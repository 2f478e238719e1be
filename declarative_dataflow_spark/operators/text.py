"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference extensions (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all
expressed with built-in JVM-side SQL functions (no Python UDFs in the
hot path), so they stay inside whole-stage codegen and scale linearly
with input splits at 100 TB. Each has an exact DuckDB-SQL twin used by
the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..scratch import materialize, materialize_count

# Deliberately small, deterministic marker sets: the point is the
# dataflow shape (tokenize -> filter -> argmax), not linguistics.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "los", "y", "de"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "les", "et", "est"),
}

PUNCT_CLASS = "[.,!?;:]"


def _count_in_set(col: str, words: tuple[str, ...]) -> Column:
    lst = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(split(lower({col}), ' '), w -> w IN ({lst})))")


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count per document."""

    return docs.select(
        "doc_id",
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
        .alias("n_tokens"),
    )


# BPE-ish pre-tokenizer: alphabetic runs are one token, digits and
# punctuation symbols tokenize individually (the shape of GPT-2's
# pre-tokenization, simplified to a regex that means the same thing in
# Spark's and DuckDB's dialects).
SUBWORD_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


def subword_token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish subword token count: alpha runs + individual digits +
    individual symbols. An upper-bound proxy for real BPE vocab counts
    (a trained tokenizer merges, never splits, these pieces)."""

    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(SUBWORD_PATTERN), 0
            )
        ).cast("long").alias("n_subwords"),
    )


def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """The quality signals as raw Column expressions — composable into
    any projection (streaming stages use these to stay map-only)."""

    length = F.length(F.col(text_col))
    punct = length - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, ""))
    n_tokens = F.size(F.split(F.lower(F.col(text_col)), " "))
    n_stop = _count_in_set(text_col, STOPWORDS)
    punct_ratio = punct / F.greatest(length, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    len_score = F.least(length / F.lit(500.0), F.lit(1.0))
    score = stop_ratio * 0.5 + len_score * 0.3 + (1.0 - punct_ratio) * 0.2
    return {
        "n_chars": length,
        "punct_ratio": F.round(punct_ratio, 4),
        "stopword_ratio": F.round(stop_ratio, 4),
        "quality": F.round(score, 4),
    }


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation and stopword
    ratios combined into one score (all integer counts + one rounded
    division — deterministic across engines)."""

    cols = quality_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


def lang_id_column(text_col: str = "text") -> Column:
    """Marker-word language ID as a raw Column: argmax of per-language
    marker counts, ties broken by fixed language order, zero hits ->
    'und'."""

    counts = {lang: _count_in_set(text_col, ws) for lang, ws in LANG_MARKERS.items()}
    best = F.lit("und")
    best_n = F.lit(0)
    # Iterate in reverse priority so earlier languages win ties.
    for lang in reversed(list(LANG_MARKERS)):
        c = counts[lang]
        best = F.when(c >= best_n, F.lit(lang)).otherwise(best)
        best_n = F.when(c >= best_n, c).otherwise(best_n)
    return F.when(best_n > 0, best).otherwise(F.lit("und"))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID (see :func:`lang_id_column`)."""

    return docs.select("doc_id", lang_id_column(text_col).alias("lang_pred"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the
    lowercased/punctuation-stripped/whitespace-collapsed text."""

    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return docs.select("doc_id", F.md5(norm).alias("fp"))


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_PATTERN = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_column(text_col: str = "text") -> Column:
    """Email+phone scrubbing as a raw Column expression."""

    return F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails and phone numbers: (doc_id, redacted, n_emails,
    n_phones). Map-only column expressions (regexp_replace /
    regexp_extract_all stay in whole-stage codegen) — at 100 TB this
    fuses into the scan like every other text operator."""

    text = F.col(text_col)
    return docs.select(
        "doc_id",
        redact_column(text_col).alias("redacted"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), 0))
        .cast("long")
        .alias("n_phones"),
    )


def repetition_ratio_column(text_col: str = "text") -> Column:
    """Within-document duplicate-token share as a raw Column."""

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(words)
    d = F.size(F.array_distinct(words))
    return F.round(F.lit(1.0) - d / F.greatest(n, F.lit(1)), 6)


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signal: share of duplicate tokens per
    document — near-1.0 marks boilerplate/spam that dedup misses
    because the repetition is WITHIN the document. (doc_id, n_tokens,
    n_distinct, rep_ratio). Pure array expressions, map-only."""

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(words)
    d = F.size(F.array_distinct(words))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        d.cast("long").alias("n_distinct"),
        repetition_ratio_column(text_col).alias("rep_ratio"),
    )


def vocab_topk(
    docs: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-vocabulary induction, step one: the corpus-wide top-k
    subword pieces by frequency — (token, n, rk). Ties break
    lexicographically so the ranking is total and engine-portable.

    Shape: explode the per-document subword pieces (the same BPE-ish
    pre-tokenization as :func:`subword_token_count`), one uniform-key
    count aggregation with map-side partials, then top-k via
    orderBy+limit — Catalyst lowers that to TakeOrderedAndProject
    (per-partition k-row heaps + a k-row merge), so even a 100M-piece
    vocabulary never single-partitions; the rank window runs over the
    k surviving rows only.
    """

    from pyspark.sql import Window

    pieces = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(SUBWORD_PATTERN), 0
            )
        ).alias("token")
    )
    counts = pieces.groupBy("token").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------

def gopher_columns(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> dict[str, Column]:
    """The Gopher rules as raw Column expressions — composable into
    any projection (streaming stages use these to stay map-only)."""

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_words = F.size(words)
    denom = F.greatest(n_words, F.lit(1))
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.round(total_chars / denom, 4)
    n_hash = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("#"), F.lit(""))
    )
    n_ellipsis = (
        F.length(F.col(text_col))
        - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.round((n_hash + n_ellipsis) / denom, 4)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_frac = F.round(n_alpha / denom, 4)
    n_stop = _count_in_set(text_col, STOPWORDS)

    pass_words = (n_words >= min_words) & (n_words <= max_words)
    pass_mean_len = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    pass_symbol = symbol_ratio <= max_symbol_ratio
    pass_alpha = alpha_frac >= min_alpha_frac
    pass_stop = n_stop >= min_stopwords
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "alpha_frac": alpha_frac,
        "n_stop": n_stop.cast("long"),
        "pass_words": pass_words,
        "pass_mean_len": pass_mean_len,
        "pass_symbol": pass_symbol,
        "pass_alpha": pass_alpha,
        "pass_stop": pass_stop,
        "pass": (
            pass_words & pass_mean_len & pass_symbol & pass_alpha & pass_stop
        ),
    }


def gopher_rules(docs: DataFrame, text_col: str = "text", **thresholds) -> DataFrame:
    """Gopher-style repetition-free quality gate: the five word-level
    rules of Rae et al. 2021 (A1.1) as one map-only projection —
    word-count range, mean-word-length range, symbol-to-word ratio
    ("#" and "..." occurrences), alphabetic-word fraction, and minimum
    stopword hits. Returns the per-document measurements, one boolean
    per rule, and the conjunction ``pass``.

    Scale shape: zero shuffles — every rule is a JVM array expression
    over the tokenized text, so the operator is a single map-only scan
    stage at any corpus size. Ratios round to 4 decimals (integer
    numerators/denominators, one rounded division) so the DuckDB twin
    hashes identically.
    """

    cols = gopher_columns(text_col, **thresholds)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


# ---------------------------------------------------------------------------
# N-gram language-model quality scoring (the CCNet/KenLM filter shape)
# ---------------------------------------------------------------------------

def ngram_lm_score(
    docs: DataFrame, alpha: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Per-document mean log-probability under an add-alpha-smoothed
    word-bigram model trained on the corpus itself — the CCNet/KenLM
    perplexity-filter shape (docs scoring far below the corpus mean
    are gibberish or boilerplate; far above are templated spam).

    log P(w2 | w1) = ln((c(w1 w2) + alpha) / (c(w1) + alpha * V))

    Scale shape: bigram and unigram counts are two uniform-key
    aggregations with map-side partials; scoring joins each document's
    bigrams to the model on the bigram key (uniform hash join, no
    skew), and V rides in on a one-row broadcast. Per-bigram log
    scores round to 9 decimals and sum in DECIMAL(24,9) so the mean is
    order-independent (the PageRank discipline); the mean rounds to 6.

    Returns (doc_id, n_bigrams, avg_logp).
    """

    from declarative_dataflow_spark.operators.dedup import spread_input

    docs = spread_input(docs)
    # ONE tokenize feeds everything (r12, the dsir_feature_arrays
    # lesson): the corpus scan + split/lower runs once and the
    # materialized state is the DOC-scale token-array table, not the
    # corpus-bigram-scale (doc_id, w, w2) rows the r11 form
    # checkpointed. The unigram counts and both bigram consumers
    # (model counts, scoring join) re-derive their explodes MAP-SIDE
    # from the cached arrays — the shuffles downstream are identical.
    warr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = materialize(docs.select("doc_id", warr.alias("__w")), eager=False)
    toks = base.select(F.col("doc_id"), F.explode("__w").alias("w"))
    # Bigrams form ROW-LOCALLY (consecutive pairs of the token array)
    # — a (doc_id, pos) self-join would shuffle the whole token table
    # twice just to pair neighbors that already live in the same row.
    # The size >= 2 filter guards sequence(), which DESCENDS when its
    # stop is below its start (a 1-token doc must yield no bigrams).
    bigrams = (
        base.filter(F.size("__w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__w) - 2), "
                    "i -> struct(__w[i] AS w, __w[i+1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w", "bg.w2")
    )
    c2 = bigrams.groupBy("w", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # c1 feeds BOTH the model join and the vocabulary size: |V| is by
    # definition the row count of the unigram table, so deriving it
    # there removes a second full countDistinct pass over the token
    # table (r12; one corpus-token scan + two-stage distinct shuffle
    # gone at any scale — guide §2.4).
    c1 = materialize(
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1")), eager=False
    )
    vocab = c1.select(F.count(F.lit(1)).alias("v"))
    model = c2.join(c1, "w").crossJoin(F.broadcast(vocab)).select(
        "w",
        "w2",
        F.round(
            F.log((F.col("c2") + alpha) / (F.col("c1") + alpha * F.col("v"))),
            9,
        )
        .cast("decimal(24,9)")
        .alias("logp"),
    )
    return (
        bigrams.join(model, ["w", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("logp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge induction (tokenizer training, step two after vocab_topk)
# ---------------------------------------------------------------------------

def bpe_merges(
    docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Learn the first ``n_merges`` byte-pair-encoding merges over the
    corpus (Sennrich et al. 2016): start from the word→count table
    with each word spelled as space-separated symbols, repeatedly take
    the most frequent adjacent symbol pair (count desc, then pair
    lexicographically — a total, engine-portable order) and fuse it
    everywhere. Returns (rk, left, right, merged, n) — the merge table
    a tokenizer ships.

    Merge application is a literal string replace over a DOUBLE-space
    delimited symbol string: the pattern ``" l  r "`` consumes one
    space from each neighboring gap and the replacement ``" lr "``
    restores them, so adjacent occurrences that share a delimiter are
    all fused in one pass while overlapping occurrences (``a a a``
    under merge ``(a, a)``) fuse greedy left-to-right — exact BPE
    semantics, identical in Spark and DuckDB (the oracle twin unrolls
    the same steps as chained CTEs).

    Scale shape: the state is the DISTINCT-word table (vocabulary-
    sized, not corpus-sized — the one aggregation over the corpus
    happens once up front). Each round is a map-side pair explode +
    one uniform-key count + a SINGLE-ROW argmax collect (the only
    driver traffic: n_merges rows total, the centroid-collect
    discipline), then a map-only replace. localCheckpoint after each
    merge keeps lineage flat, so round r never replays rounds 1..r-1.
    """

    words = (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_spell_seq("word").alias("seq"), "cnt")
    )
    merges, _ = _bpe_train(words, n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "rk INT, left STRING, right STRING, merged STRING, n BIGINT"
    )


def _spell_seq(word_col: str) -> Column:
    """word -> its double-space-delimited symbol spelling
    ``"  c1  c2  ...  "`` (the BPE working representation)."""

    return F.concat(
        F.lit("  "),
        F.array_join(
            F.regexp_extract_all(F.col(word_col), F.lit("(?s)."), 0),
            "  ",
        ),
        F.lit("  "),
    )


def _bpe_train(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The BPE merge-learning loop over a ``(seq, cnt, ...)`` symbol
    table: ``n_merges`` rounds of pair explode + uniform count + a
    single-row argmax collect, each followed by the map-only fuse.
    Returns (merge list, the FINAL fused table) — passthrough columns
    (e.g. the original ``word``) survive every round, so a caller that
    needs the post-merge spelling per word reads it off the final
    state instead of re-applying the merge chain (bpe_encode, r12)."""

    merges: list[tuple[int, str, str, str, int]] = []
    for rk in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("seq")), "  ")
        pairs = words.select(
            F.explode(
                F.arrays_zip(
                    F.slice(syms, 1, F.size(syms) - 1).alias("l"),
                    F.slice(syms, 2, F.size(syms) - 1).alias("r"),
                )
            ).alias("p"),
            "cnt",
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        merges.append((rk, row["l"], row["r"], row["l"] + row["r"], row["n"]))
        words = words.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f" {row['l']}  {row['r']} "),
                F.lit(f" {row['l']}{row['r']} "),
            ),
        ).transform(materialize, eager=False)
    return merges, words


def bpe_encode(
    docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Tokenize the corpus with the first ``n_merges`` learned BPE
    merges (the APPLY step to ``bpe_merges``'s TRAIN step): per
    document, the token count after greedy merge application — the
    number an LLM data pipeline budgets against. Returns
    (doc_id, n_words, n_tokens).

    Scale shape (r12): ONE corpus tokenize feeds everything. The
    per-doc (doc_id, word) count table is materialized once; the
    TRAINING word-count table is its vocabulary-sized re-aggregation
    (the r6 form ran bpe_merges(docs) separately — a second corpus
    explode + corpus-wide word shuffle), and the ``word`` column rides
    THROUGH the merge loop so the final training state already holds
    every word's post-merge spelling — no separate distinct-word table
    and no second application of the merge chain. The corpus-sized
    work left is the (doc_id, word) aggregation and one word-keyed
    join against the vocabulary-sized symbol table; AQE handles
    stopword skew. The only driver traffic is training's n_merges
    one-row argmax collects.
    """

    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("word"),
    )
    per_doc = (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, eager=False)  # feeds training AND the join
    )
    words = per_doc.groupBy("word").agg(F.sum("c").alias("cnt")).select(
        "word", _spell_seq("word").alias("seq"), "cnt"
    )
    _, fused = _bpe_train(words, n_merges)
    n_sym = fused.select(
        "word",
        F.size(F.split(F.trim(F.col("seq")), "  ")).alias("n_sym"),
    )
    return (
        per_doc.join(n_sym, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_sym")).cast("long").alias(
                "n_tokens"
            ),
        )
    )

def lm_quality_buckets(
    docs: DataFrame,
    buckets: int = 3,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing: rank documents by their
    bigram-LM mean log-probability (:func:`ngram_lm_score`) and cut
    the corpus into ``buckets`` equal tiers — bucket 1 = "head" (most
    fluent), last = "tail" (the slice CCNet drops or downweights).
    Returns (doc_id, avg_logp, bucket).

    Scale shape: never a global rank window. Each of the buckets-1
    cut points is the k-th largest (avg_logp, doc_id) tuple, found by
    orderBy+limit(k) (TakeOrderedAndProject: per-partition k-heaps)
    followed by a one-row min-of-struct aggregate that BROADCASTS back;
    bucket assignment is then a map-only tuple comparison. The only
    driver traffic is one count() to size the cuts. Ties break by
    doc_id (descending, matching the cut order) so the tiers are
    total and engine-portable.
    """

    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    # The scored table feeds FOUR consumers (the sizing count, one
    # TakeOrdered pass per cut point, and the output projection) —
    # materialize once or the whole LM pipeline re-runs per consumer
    # (measured at the 10x bench scale: 10.1s -> ~6s).
    scored, n = materialize_count(
        ngram_lm_score(docs, alpha=alpha, text_col=text_col).select(
            "doc_id", "avg_logp"
        )
    )
    tup = F.struct("avg_logp", "doc_id")
    bucket = F.lit(1)
    out = scored
    for i in range(1, buckets):
        k = (i * n) // buckets
        if k < 1:
            continue
        thr = (
            scored.orderBy(
                F.col("avg_logp").desc(), F.col("doc_id").desc()
            )
            .limit(k)
            .agg(F.min(tup).alias("thr"))
        )
        out = out.crossJoin(
            F.broadcast(thr.select(F.col("thr").alias(f"thr{i}")))
        )
        bucket = bucket + F.when(tup < F.col(f"thr{i}"), 1).otherwise(0)
    return out.select(
        "doc_id", "avg_logp", bucket.cast("int").alias("bucket")
    )

def nb_quality_score(
    docs: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    label_col: str | None = None,
    **gopher_thresholds,
) -> DataFrame:
    """Model-based quality scoring — the classifier-filter shape of
    CCNet / LLaMA-style pipelines (a linear model trained on weak
    labels, then applied corpus-wide). Trains an add-alpha multinomial
    Naive Bayes where the default weak label is the corpus's OWN
    Gopher A1.1 gate (:func:`gopher_columns`'s ``pass``), and scores
    every document by its log-odds of the pass class:

        score(d) = ln(P(pass)/P(fail)) +
                   sum_t [ln P(t|pass) - ln P(t|fail)]

    Returns (doc_id, n_tokens, label, score) — ``label`` is the weak
    training label, kept so callers can find the interesting
    disagreements (rule-fail but model-pass documents are the gate's
    false negatives and vice versa).

    Scale shape: training is two uniform-key aggregations (per-term
    conditional counts; per-class totals to a broadcast one-row
    frame); the per-term log-odds weights form a vocabulary-sized
    model joined back on the uniform term key (the ngram_lm_score
    plan). Per-token weights round to 9 decimals and sum in
    DECIMAL(24,9) so the doc score is order-independent; the final
    score rounds to 6.
    """

    from declarative_dataflow_spark.operators.dedup import spread_input

    docs = spread_input(docs)
    if label_col is None:
        label = gopher_columns(text_col, **gopher_thresholds)["pass"]
        labeled = docs.select("doc_id", F.col(text_col), label.alias("label"))
    else:
        labeled = docs.select(
            "doc_id", F.col(text_col), F.col(label_col).alias("label")
        )
    # The tokenized corpus (with its per-row Gopher label fold) feeds
    # THREE consumers (class totals, the model counts, the scoring
    # join) — materialize once or the label fold re-runs corpus-wide
    # per consumer. r12 batch 10 (the ngram_lm_score/dsir doc-array
    # lesson): the materialized state is the DOC-scale token-array
    # table, not corpus-token-scale (doc_id, label, term) rows — the
    # two exploding consumers re-derive their explodes MAP-SIDE from
    # the cached arrays, and the class token totals need no explode at
    # all (sum of size(__t) per label over doc rows — identical to
    # counting exploded token rows: explode emits exactly size(__t)
    # rows per doc, and a null/absent array contributes NULL to the
    # sum exactly as it contributes zero exploded rows).
    base = labeled.select(
        "doc_id",
        "label",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__t"),
    ).transform(materialize, eager=False)
    toks = base.select(
        "doc_id", "label", F.explode("__t").alias("term")
    )
    # Per-term conditional counts feed BOTH the vocabulary size and
    # the log-odds weights — materialize once. |V| is by definition
    # the row count of this table (r12, the ngram_lm_score |V|
    # discipline): deriving it here removes the countDistinct Expand
    # pass over the corpus-token table the r11 form ran; the class
    # token totals stay a plain single-pass aggregate of toks.
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("cf"),
    ).transform(materialize, eager=False)
    vocab = counts.select(F.count(F.lit(1)).alias("v"))
    tot = base.agg(
        F.sum(
            F.when(F.col("label"), F.size("__t")).otherwise(0)
        ).alias("n_pass"),
        F.sum(
            F.when(F.col("label"), 0).otherwise(F.size("__t"))
        ).alias("n_fail"),
    ).crossJoin(F.broadcast(vocab))
    model = (
        counts.crossJoin(F.broadcast(tot))
        .select(
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
    )
    prior = F.round(
        F.log((F.col("d_pass") + alpha) / (F.col("d_fail") + alpha)), 9
    )
    # The class priors derive from the per-doc aggregate instead of a
    # separate corpus scan re-running the Gopher label fold (r12):
    # every document lands in per_doc exactly once (tokenizing a
    # non-null string yields >= 1 token, the model holds every term,
    # and a doc has ONE label), so counting labels here is the same
    # count the r11 labeled.agg() pass produced.
    per_doc = (
        toks.join(model, "term")
        .groupBy("doc_id", "label")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").cast("double").alias("__s"),
        )
        .transform(materialize, eager=False)
    )
    cls = per_doc.agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("d_pass"),
        F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("d_fail"),
    )
    return per_doc.crossJoin(F.broadcast(cls)).select(
        "doc_id",
        "n_tokens",
        "label",
        F.round(F.col("__s") + prior, 6).alias("score"),
    )


def tokenizer_fertility(
    docs: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group tokenizer fertility statistics — the standard check
    that a tokenizer serves every language fairly before a training
    mix is fixed (fertility = subword tokens per word; multilingual
    tokenizers routinely cost low-resource languages 2-3x the tokens
    per word of English, which silently shrinks their effective
    budget). Returns (group, n_docs, n_words, n_subwords, n_bytes,
    fertility, bytes_per_token).

    One corpus scan: words, subword pieces, and UTF-8 bytes are
    map-only column expressions; the aggregation groups by ``group_col``
    (tiny output — one row per language) with map-side partials doing
    the work. Ratios round to 4 decimals.
    """

    t = F.trim(F.lower(F.col(text_col)))
    words = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    subwords = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(SUBWORD_PATTERN), 0)
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        words.cast("long").alias("__w"),
        subwords.cast("long").alias("__s"),
        F.octet_length(F.col(text_col)).cast("long").alias("__b"),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").alias("n_words"),
            F.sum("__s").alias("n_subwords"),
            F.sum("__b").alias("n_bytes"),
        )
        .select(
            "grp",
            "n_docs",
            "n_words",
            "n_subwords",
            "n_bytes",
            F.round(F.col("n_subwords") / F.col("n_words"), 4).alias(
                "fertility"
            ),
            F.round(F.col("n_bytes") / F.col("n_subwords"), 4).alias(
                "bytes_per_token"
            ),
        )
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the character distribution —
    the compressibility proxy quality filters use to drop low-entropy
    boilerplate (repeated padding, ASCII art) and flag high-entropy
    noise (minified code, base64 blobs). Returns (doc_id, n_chars,
    n_distinct, entropy) with entropy in nats, 0.0 for empty text.

    Entirely row-local (map-only, ZERO shuffles at any scale): the
    char array, its SORTED distinct alphabet, per-char counts, and the
    -sum(p ln p) fold are higher-order array expressions. Sorting the
    alphabet pins the summation order, so the double fold is
    reproducible across engines and partitionings; the result rounds
    to 6 decimals.
    """

    chars = F.regexp_extract_all(F.col(text_col), F.lit("(?s)."), 0)
    d = docs.select("doc_id", chars.alias("__cs"))
    alphabet = F.array_sort(F.array_distinct(F.col("__cs")))
    n = F.size(F.col("__cs"))
    # 0.0 - fold (not -fold): a one-symbol alphabet folds to 0.0 and
    # unary minus would emit -0.0, which hashes differently.
    ent = F.expr(
        "round(0.0 - aggregate(transform(__alpha, c -> "
        "size(filter(__cs, x -> x = c)) / CAST(__n AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p * ln(p)), 6)"
    )
    return (
        d.withColumn("__n", n)
        .withColumn("__alpha", alphabet)
        .select(
            "doc_id",
            F.col("__n").cast("long").alias("n_chars"),
            F.size("__alpha").cast("long").alias("n_distinct"),
            F.when(F.col("__n") == 0, F.lit(0.0)).otherwise(ent).alias("entropy"),
        )
    )


def blocklist_filter(
    docs: DataFrame, phrases: list[str], text_col: str = "text"
) -> DataFrame:
    """Blocklist (badwords) filtering — the C4-style gate that drops
    documents containing any term from a curated list (profanity,
    boilerplate markers, machine-generated tells). Returns
    (doc_id, n_blocked, blocked) with n_blocked = how many DISTINCT
    blocked phrases occur in the document.

    Phrases are word sequences: single words match tokens, multi-word
    phrases match word n-grams of their own length — never substring
    matching (a blocklist entry "ass" must not flag "assembly"; the
    reference C4 list is word-delimited for exactly this reason).

    Scale shape: one shingle explode per DISTINCT phrase length (a
    blocklist has a handful of lengths), each joined against a
    broadcast phrase set; no regex alternation over thousands of
    phrases (that becomes a per-row scan over the whole list), no
    substring scan. Uniform doc_id shuffle for the final count.
    """

    from .dedup import shingles

    by_len: dict[int, list[str]] = {}
    for p in phrases:
        toks = p.lower().split()
        if toks:
            by_len.setdefault(len(toks), []).append("_".join(toks))
    spark = docs.sparkSession
    hits = None
    for length, keys in sorted(by_len.items()):
        pl = spark.createDataFrame([(k,) for k in sorted(set(keys))], ["shingle"])
        h = shingles(docs, length, text_col).join(
            F.broadcast(pl), "shingle"
        ).select("doc_id", "shingle")
        hits = h if hits is None else hits.unionByName(h)
    base = docs.select("doc_id")
    if hits is None:
        return base.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_blocked"),
            F.lit(False).alias("blocked"),
        )
    counts = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocked")
    )
    return (
        base.join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_blocked"), F.lit(0)).cast("long").alias(
                "n_blocked"
            ),
            (F.coalesce(F.col("n_blocked"), F.lit(0)) > 0).alias("blocked"),
        )
    )


def char_entropy_column(text_col: str = "text") -> Column:
    """:func:`char_entropy`'s entropy as ONE raw Column expression —
    composable into a streaming map-only projection (zero state)."""

    cs = f"regexp_extract_all({text_col}, '(?s).', 0)"
    alpha = f"array_sort(array_distinct({cs}))"
    n = f"size({cs})"
    return F.expr(
        f"CASE WHEN {n} = 0 THEN 0.0 ELSE "
        f"round(0.0 - aggregate(transform({alpha}, c -> "
        f"size(filter({cs}, x -> x = c)) / CAST({n} AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p * ln(p)), 6) END"
    )


def blocklist_column(
    phrases: list[str], text_col: str = "text"
) -> Column:
    """Blocked-document flag as ONE row-local Column expression: for
    each distinct phrase length L, the document's distinct L-grams are
    tested against the phrase-literal array with ``arrays_overlap`` —
    the same word-delimited semantics as :func:`blocklist_filter`, but
    with zero joins and zero state, which is what a streaming
    projection needs. Right for gate-sized lists (the phrases become
    an expression literal); use the join form for very large lists.
    """

    by_len: dict[int, list[str]] = {}
    for p in phrases:
        toks = p.lower().split()
        if toks:
            by_len.setdefault(len(toks), []).append("_".join(toks))
    if not by_len:
        return F.lit(False)
    conds = []
    for length, keys in sorted(by_len.items()):
        lits = ", ".join("'" + k.replace("'", "\\'") + "'" for k in sorted(set(keys)))
        w = f"split(lower({text_col}), ' ')"
        if length == 1:
            grams = w
        else:
            parts = ", ".join(f"w[i + {j}]" for j in range(length))
            grams = (
                f"CASE WHEN size({w}) >= {length} THEN "
                f"transform(sequence(0, size({w}) - {length}), i -> "
                f"concat_ws('_', {parts})) ELSE array() END"
            )
            # name the token array for the lambda via a let-less inline
            grams = grams.replace("w[i", f"{w}[i")
        conds.append(F.expr(f"arrays_overlap({grams}, array({lits}))"))
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def hash_embed(
    docs: DataFrame, dim: int = 16, text_col: str = "text"
) -> DataFrame:
    """Feature-hashing document embeddings (the hashing trick,
    Weinberger et al. 2009): each token hashes to one of ``dim``
    components with a hash-derived sign, counts accumulate, and the
    vector L2-normalizes — a deterministic, model-free embedding that
    lets the similarity/ANN/SemDeDup family run straight off raw text
    (bag-of-words cosine geometry). Returns (doc_id, e0..e{dim-1})
    with components rounded to 6 decimals (one column per component:
    scalar schemas hash cleanly in the driver compare; callers wanting
    an array column can F.array the components back).

    Scale shape: one explode + ONE uniform doc_id aggregation with
    ``dim`` conditional sums (map-side partials carry dim longs per
    doc); the normalization is row-local integer-exact arithmetic
    (integer sums, correctly-rounded sqrt/division — bit-identical
    across engines before the rounding even applies).
    """

    w = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("he_"), F.col("w"))), 1, 8), 16, 10
    ).cast("long")
    toks = docs.select("doc_id", w).select(
        "doc_id",
        (h % dim).alias("__d"),
        F.when((F.shiftright(h, 16).bitwiseAND(F.lit(1))) == 1, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("__s"),
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("__d") == i, F.col("__s")).otherwise(0))
            .cast("long")
            .alias(f"__c{i}")
            for i in range(dim)
        ]
    )
    nrm = F.sqrt(
        sum(F.col(f"__c{i}") * F.col(f"__c{i}") for i in range(dim))
    )
    return sums.select(
        "doc_id",
        *[
            F.when(nrm == 0, F.lit(0.0))
            .otherwise(F.round(F.col(f"__c{i}") / nrm, 6))
            .alias(f"e{i}")
            for i in range(dim)
        ],
    )


def c4_rules(
    docs: DataFrame,
    min_words_per_line: int = 5,
    min_lines: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, §2.2) — the
    line-structural complement of :func:`gopher_rules`' word-level
    statistics: keep only lines that end in terminal punctuation, hold
    at least ``min_words_per_line`` words, and do not mention
    "javascript"; drop whole pages with fewer than ``min_lines``
    surviving lines, a "lorem ipsum" placeholder, or a curly brace
    (code). Returns (doc_id, n_lines, n_kept, has_lorem, has_brace,
    keep, text) with ``text`` the surviving lines re-joined — the
    cleaned page a keep-filtered pass would emit.

    Scale shape: zero shuffles — the line split, per-line filter, and
    re-join are higher-order array expressions over the page's own
    row, so the operator is one map-only scan stage at any corpus
    size (the same shape as gopher_rules; the bad-words list rule is
    blocklist_filter's job and composes on top).
    """

    cols = c4_columns(text_col, min_words_per_line, min_lines)
    return docs.select(
        "doc_id",
        cols["n_lines"].alias("n_lines"),
        cols["n_kept"].alias("n_kept"),
        cols["has_lorem"].alias("has_lorem"),
        cols["has_brace"].alias("has_brace"),
        cols["keep"].alias("keep"),
        cols["text"].alias("text"),
    )


def c4_columns(
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> dict[str, Column]:
    """The C4 rules as raw Column expressions — composable into any
    projection (streaming stages use these to stay map-only, the
    gopher_columns discipline)."""

    lines = F.split(F.col(text_col), "\n")

    def _line_ok(line):
        t = F.trim(line)
        last = t.substr(F.length(t), F.lit(1))
        return (
            (F.length(t) > 0)
            & last.isin(".", "!", "?", '"')
            & (F.size(F.split(t, r"\s+")) >= min_words_per_line)
            & ~F.contains(F.lower(line), F.lit("javascript"))
        )

    kept = F.filter(lines, _line_ok)
    has_lorem = F.contains(F.lower(F.col(text_col)), F.lit("lorem ipsum"))
    has_brace = F.contains(F.col(text_col), F.lit("{"))
    n_kept = F.size(kept)
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_kept": n_kept.cast("long"),
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "keep": (n_kept >= min_lines) & ~has_lorem & ~has_brace,
        "text": F.array_join(kept, "\n"),
    }


# Fixed Latin accent fold — one deterministic map shared verbatim with
# the DuckDB twin (NOT locale-dependent NFKD, which the two engines
# could disagree on).
ACCENT_FROM = "áàâäãéèêëíìîïóòôöõúùûüñç"
ACCENT_TO = "aaaaaeeeeiiiiooooouuuunc"


def text_norm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical text normalization — the pass every hash-keyed dedup
    runs FIRST (exact_dedup, line_dedup, MinHash shingles all compare
    byte-exactly, so 'Résumé ' and 'resume' must collapse before
    hashing): lowercase, fixed-map accent folding, whitespace collapse
    + trim. Returns (doc_id, text, changed) with ``changed`` marking
    rows the normalization actually touched (the audit column a
    backfill reads to bound its re-hash work).

    Scale shape: zero shuffles — lower/translate/regexp_replace fuse
    into one map-only scan stage at any corpus size. The accent map
    is a FIXED table mirrored in the DuckDB twin rather than unicode
    NFKD, so normalization is engine-portable by construction.
    """

    col = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.translate(F.lower(col), ACCENT_FROM, ACCENT_TO),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("text"),
        (norm != col).alias("changed"),
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Collocation (multi-word-expression) mining by LIFT — the
    phrase-detection pass a tokenizer/vocab builder runs to promote
    "new york"-style bigrams to single units. For every adjacent word
    pair seen >= ``min_count`` times: lift = c(xy)·N / (c(x)·c(y))
    (N = total tokens), the exact monotone core of PMI = log(lift) —
    ranking by lift IS ranking by PMI while never evaluating a libm
    log, the repo's determinism discipline (see link_prediction's RA-
    over-Adamic-Adar choice). Returns the ``top_k`` rows (w, w2, c_xy,
    c_x, c_y, lift), lift desc then (w, w2) asc; lift rounds to 6
    decimals — products and quotient are single IEEE double ops,
    identical in both engines.

    Shape: bigrams form ROW-LOCALLY (the ngram_lm_score discipline —
    never a (doc, pos) self-join); unigram and bigram counts are two
    uniform-key aggregations; the pair table joins its two unigram
    counts on the word keys (uniform hash joins); N rides a one-row
    broadcast; top-k lowers to TakeOrderedAndProject — no global
    sort, linear at any corpus size."""

    from declarative_dataflow_spark.operators.dedup import spread_input

    docs = spread_input(docs)
    # ONE tokenize feeds both explodes (r12, the ngram_lm_score
    # base-array discipline): materialize the doc-scale token-array
    # table; unigrams and bigrams re-derive map-side.
    warr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = materialize(docs.select(warr.alias("__w")), eager=False)
    toks = base.select(F.explode("__w").alias("w"))
    bigrams = (
        base.filter(F.size("__w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__w) - 2), "
                    "i -> struct(__w[i] AS w, __w[i+1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w", "bg.w2")
    )
    c2 = (
        bigrams.groupBy("w", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    # c1 feeds THREE consumers (both unigram joins and the total) —
    # checkpoint once, and derive N = sum(c_x) from it instead of a
    # second full token pass (identical value: both count tokens).
    c1 = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_x"))
        .transform(materialize, eager=False)
    )
    n = c1.select(F.sum("c_x").alias("n_tokens"))
    scored = (
        c2.join(c1, "w")
        .join(
            c1.select(F.col("w").alias("w2"), F.col("c_x").alias("c_y")),
            "w2",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "w",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                (
                    F.col("c_xy").cast("double")
                    * F.col("n_tokens").cast("double")
                )
                / (
                    F.col("c_x").cast("double")
                    * F.col("c_y").cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "w", "w2").limit(top_k)


def vocab_coverage(
    docs: DataFrame,
    ks: tuple = (64, 256, 1024, 4096),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-SIZING eval: for each
    candidate vocab size k, what fraction of all corpus token
    occurrences the top-k words by frequency cover (the Zipf-mass
    curve a team reads before picking a vocab budget; the OOV rate is
    1 − coverage). Returns one row per k: (k, covered, n_tokens,
    coverage), coverage = round(covered / N, 6) — one IEEE division.

    Shape: one uniform-key word count, then ONE TakeOrderedAndProject
    of max(ks) rows (per-partition k-heaps — the vocab_topk
    discipline: a 100M-word vocabulary never single-partitions); the
    rank window runs over those <= max(ks) survivors only, and each
    cut point is a filtered sum over the same tiny table via a
    broadcast k-list join. Total tokens ride a one-row broadcast —
    nothing corpus-sized sorts or collects."""

    from pyspark.sql import Window

    max_k = max(ks)
    warr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    toks = docs.select(F.explode(warr).alias("w"))
    # counts feeds the TakeOrdered AND the total — checkpoint once;
    # N = sum(cnt) over the count table, never a second token pass.
    counts = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(materialize, eager=False)
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("w")).limit(max_k)
    w_rk = Window.orderBy(F.col("cnt").desc(), F.col("w"))
    ranked = top.withColumn("rk", F.row_number().over(w_rk).cast("long"))
    spark = docs.sparkSession
    kdf = spark.createDataFrame([(int(k),) for k in sorted(ks)], "k long")
    n = counts.select(F.sum("cnt").alias("n_tokens"))
    return (
        ranked.join(F.broadcast(kdf), F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("cnt").alias("covered"))
        .crossJoin(F.broadcast(n))
        .select(
            "k",
            "covered",
            "n_tokens",
            F.round(
                F.col("covered").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease scoring with integer-exact proxies: words =
    whitespace tokens, sentences = terminal-punctuation runs ([.!?]+,
    min 1), syllables = vowel GROUPS ([aeiouy]+ in the lowercased
    text) — the standard cheap approximations (true syllabification
    needs a dictionary; vowel-group counting is the textbook proxy).
    The curation signal between the pure length ratios (text_quality)
    and model-based scoring (nb_quality): flags both walls of unbroken
    jargon (low score) and listicle fragments (implausibly high).
    Returns (doc_id, n_words, n_sents, n_syll, flesch), flesch =
    round(206.835 − 1.015·(words/sents) − 84.6·(syll/words), 4) —
    every count exact, the combination a fixed chain of IEEE ops
    identical in both engines, NULL for empty docs (0 words).

    Map-only: three regexp counts per row, no shuffle at all."""

    words = F.expr(
        f"size(regexp_extract_all(trim(lower({text_col})), '[^\\\\s]+', 0))"
    )
    sents = F.expr(
        f"greatest(size(regexp_extract_all({text_col}, '[.!?]+', 0)), 1)"
    )
    syll = F.expr(
        f"size(regexp_extract_all(lower({text_col}), '[aeiouy]+', 0))"
    )
    counts = docs.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sents"),
        syll.alias("n_syll"),
    )
    return counts.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        F.expr(
            "CASE WHEN n_words > 0 THEN "
            "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents) "
            "- 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) END"
        ).alias("flesch"),
    )


def langid_eval(
    docs: DataFrame, text_col: str = "text", label_col: str = "lang"
) -> DataFrame:
    """Language-ID confusion matrix: the marker-word classifier
    (:func:`lang_id_column`) scored against the corpus's own language
    labels — (true_lang, pred_lang, n, rate), rate row-normalized to
    the true language's total, round 6. The eval loop a curation
    pipeline closes before trusting a cheap classifier to route
    millions of documents (which languages leak into which).

    Shape: one map-only prediction pass + one uniform (true, pred)
    count + a broadcast join against the |langs|-row totals — the
    transition_matrix discipline; output is |langs|² regardless of
    corpus size."""

    preds = docs.select(
        F.col(label_col).alias("true_lang"),
        lang_id_column(text_col).alias("pred_lang"),
    )
    # Materialize once (r12): counts feeds BOTH the totals broadcast
    # and the output join — without the boundary the regexp-heavy
    # prediction pass runs corpus-wide twice.
    counts = preds.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(materialize, eager=False)
    totals = counts.groupBy("true_lang").agg(F.sum("n").alias("tot"))
    return counts.join(F.broadcast(totals), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr("round(CAST(n AS DOUBLE) / tot, 6)").alias("rate"),
    )
