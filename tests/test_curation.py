"""Curation operators: contamination, duplicate-n-gram fraction,
sharded shuffle, token-budget mixing, top-k per group.

Semantics on hand-built inputs plus plan-quality gates: the eval-set
join broadcasts, and every window runs PARTITIONED (no single-partition
global sort anywhere in the shuffle/mix/top-k plans)."""

import pytest

from declarative_dataflow_spark.operators import curation


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "src0"),
            (2, "the quick brown fox jumps over the lazy dog", "en", "src0"),
            (3, "a completely different set of words here now", "en", "src1"),
            (4, "unos documentos en otro idioma distinto aqui", "es", "src0"),
            (5, "short text", "es", "src1"),
        ],
        ["doc_id", "text", "lang", "source"],
    )


def test_contamination_flags_eval_overlap(spark, docs):
    ev = docs.filter("doc_id = 1")
    out = {
        r["doc_id"]: (r["n_hit"], r["n_ngrams"], r["contamination"])
        for r in curation.contamination(docs, ev, n=3).collect()
    }
    # doc 2 is identical to the eval doc -> fully contaminated
    assert out[2][0] == out[2][1] and out[2][2] == 1.0
    # doc 3 shares no 3-gram with the eval doc
    assert out[3][0] == 0 and out[3][2] == 0.0
    # doc 5 has < 3 tokens -> no n-grams, no row
    assert 5 not in out


def test_contamination_broadcasts_eval_side(spark, docs):
    ev = docs.filter("doc_id = 1")
    plan = curation.contamination(docs, ev, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dup_ngram_frac(spark, docs):
    out = {
        r["doc_id"]: (r["n_dup"], r["n_ngrams"], r["dup_frac"])
        for r in curation.dup_ngram_frac(docs, n=3).collect()
    }
    # docs 1 and 2 are identical: every 3-gram occurs in 2 docs
    assert out[1][2] == 1.0 and out[2][2] == 1.0
    # docs 3 and 4 are unique
    assert out[3][0] == 0 and out[4][0] == 0


def test_global_shuffle_deterministic_and_dense(spark, docs):
    a = sorted(tuple(r) for r in curation.global_shuffle(docs, n_shards=2).collect())
    b = sorted(tuple(r) for r in curation.global_shuffle(docs, n_shards=2).collect())
    assert a == b  # hash-derived, not RNG-derived
    assert len(a) == 5
    by_shard: dict[int, list[int]] = {}
    for _, shard, pos in a:
        by_shard.setdefault(shard, []).append(pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # different salt re-deals
    c = sorted(
        tuple(r)
        for r in curation.global_shuffle(docs, n_shards=2, salt="other").collect()
    )
    assert {t[0] for t in c} == {t[0] for t in a}


def test_windows_are_partitioned_never_global(spark, docs):
    for df in (
        curation.global_shuffle(docs, n_shards=4),
        curation.token_budget_mix(docs, {"en": 100}),
        curation.topk_per_group(docs, k=1),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan


def test_token_budget_mix_respects_budget(spark, docs):
    # en docs have 9, 9, 8 tokens; budget 18 keeps the first two in
    # hash order regardless of which two they are.
    kept = curation.token_budget_mix(docs, {"en": 18}).collect()
    assert all(r["group"] == "en" for r in kept)
    assert sum(r["n_tokens"] for r in kept) <= 18
    assert len(kept) == 2
    # cumulative sums are consistent
    assert max(r["cum_tokens"] for r in kept) <= 18
    # zero default budget drops other groups entirely
    assert not [r for r in kept if r["group"] == "es"]


def test_token_budget_mix_prefix_property(spark, docs):
    # the kept set under a smaller budget is a prefix (subset) of the
    # kept set under a larger one — hash order is stable across budgets
    small = {r["doc_id"] for r in curation.token_budget_mix(docs, {"en": 9}).collect()}
    large = {r["doc_id"] for r in curation.token_budget_mix(docs, {"en": 26}).collect()}
    assert small <= large


def test_topk_per_group(spark, docs):
    out = curation.topk_per_group(docs, k=1, group_cols=("lang", "source")).collect()
    # one winner per (lang, source) group
    assert len(out) == 4
    assert all(r["rk"] == 1 for r in out)
    # deterministic tiebreak: docs 1 and 2 have identical text/score,
    # lower doc_id wins
    en_src0 = [r for r in out if r["lang"] == "en" and r["source"] == "src0"]
    assert en_src0[0]["doc_id"] == 1


def test_dup_spans_merges_overlapping_windows(spark):
    """Two docs share the run 'a b c d e f' (three overlapping 4-token
    windows -> ONE maximal span) plus a disjoint shared window later;
    a doc with unique text reports nothing."""

    from declarative_dataflow_spark.operators import curation

    shared = "a b c d e f"
    tail = "x y z w"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} uniq1 uniq2 uniq3 {tail}"),
            (2, f"pre1 pre2 {shared} other stuff here {tail}"),
            (3, "entirely different words nothing shared at all here"),
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        map(tuple, curation.dup_spans(docs, n=4, min_docs=2).collect())
    )
    # doc 1: tokens 0-5 shared run (windows at 0,1,2), tokens 9-12 tail
    # doc 2: tokens 2-7 shared run, tokens 11-14 tail
    assert out == [
        (1, 0, 5, 3, 6),
        (1, 9, 12, 1, 4),
        (2, 2, 7, 3, 6),
        (2, 11, 14, 1, 4),
    ]


def test_dup_spans_ignores_within_doc_repeats(spark):
    """A window repeated only WITHIN one document is not a cross-doc
    duplicate (min_docs counts distinct documents)."""

    from declarative_dataflow_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "p q r s t u p q r s t u"),
            (2, "completely unrelated content in this document"),
        ],
        ["doc_id", "text"],
    )
    assert curation.dup_spans(docs, n=4, min_docs=2).count() == 0


def test_quality_calibrate_per_group_percentiles(spark):
    df = spark.createDataFrame(
        [
            (1, "en", 0.9),
            (2, "en", 0.5),
            (3, "en", 0.1),
            (4, "de", 0.2),   # de's best despite low absolute score
            (5, "de", 0.1),
        ],
        ["doc_id", "lang", "q"],
    )
    out = {
        r["doc_id"]: r["pct"]
        for r in curation.quality_calibrate(df, "q", "lang").collect()
    }
    # within-group percentiles: absolute scores don't leak across groups
    assert out[1] == 1.0 and out[3] == 0.0 and out[2] == 0.5
    assert out[4] == 1.0 and out[5] == 0.0


def test_quality_calibrate_window_is_partitioned(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", float(i)) for i in range(10)],
        ["doc_id", "lang", "q"],
    )
    plan = (
        curation.quality_calibrate(df, "q", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        first = m.group(1).split(",")[0]
        assert " ASC" not in first and " DESC" not in first


def test_semdedup_within_cluster_pairs_match_brute_force(spark):
    import random

    rng = random.Random(17)
    # Two tight bundles + noise: bundle members must pair up.
    def jitter(base):
        return [x + rng.uniform(-0.01, 0.01) for x in base]

    b1 = [1.0, 0.0, 0.0, 0.0]
    b2 = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, jitter(b1)) for i in range(5)] + [
        (10 + i, jitter(b2)) for i in range(5)
    ] + [
        (100 + i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = curation.semdedup(df, k=4, iters=2, threshold=0.999)
    got = sorted((r["a"], r["b"]) for r in out.collect())
    # every within-bundle pair lands in one cluster and clears 0.999
    want_bundle_pairs = {(a, b) for a in range(5) for b in range(5) if a < b} | {
        (a, b) for a in range(10, 15) for b in range(10, 15) if a < b
    }
    assert want_bundle_pairs.issubset(set(got))
    # no cross-bundle pair (orthogonal bundles can never clear 0.999)
    assert not any(a < 10 <= b < 100 for a, b in got)


def test_semdedup_pairs_match_bruteforce_cosines(spark):
    # The Arrow-batched pair kernel accumulates outer products
    # dim-ascending — the SQL chain's exact fold order — so the kept
    # (a, b, cos) set must be BIT-identical to pure-Python within-cell
    # pair cosines, rounded like Spark's round(): HALF_UP on the
    # double's shortest decimal repr (Scala BigDecimal(double)).
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from declarative_dataflow_spark.operators import similarity

    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = sorted(
        tuple(r)
        for r in curation.semdedup(df, k=3, iters=1, threshold=0.6).collect()
    )
    cell = {
        r["vec_id"]: r["cell"]
        for r in similarity.kmeans_assign(df, k=3, iters=1).collect()
    }

    def fold(x, y):
        acc = 0.0
        for i in range(8):
            acc += x[i] * y[i]
        return acc

    want = []
    for a, va in rows:
        for b, vb in rows:
            if a < b and cell[a] == cell[b]:
                cos = fold(va, vb) / (
                    math.sqrt(fold(va, va)) * math.sqrt(fold(vb, vb))
                )
                r4 = float(
                    Decimal(repr(cos)).quantize(
                        Decimal("0.0001"), ROUND_HALF_UP
                    )
                )
                if r4 >= 0.6:
                    want.append((a, b, r4))
    assert got == sorted(want)
    assert len(got) > 0  # the comparison must be load-bearing


def test_semdedup_no_cartesian(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)], ["vec_id", "embedding"]
    )
    plan = (
        curation.semdedup(df, k=2, iters=1, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------- winsorize


def test_winsorize_clamps_to_rank_bounds(spark):
    # group of 20 values 1..20: p05 rank = ceil(5*20/100) = 1 -> lo=1,
    # p95 rank = ceil(95*20/100) = 19 -> hi=19; only the max clamps.
    rows = [(i, "en", float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "v"])
    out = {
        r["doc_id"]: r["w_value"]
        for r in curation.winsorize(df, "v").collect()
    }
    assert out[20] == 19.0
    assert all(out[i] == float(i) for i in range(1, 20))


def test_winsorize_integer_rank_arithmetic(spark):
    # n=100, lo_pct=5: the bound must be the rank-5 element (float
    # 0.05*100 rounds ABOVE 5.0, so a double ceil would pick rank 6).
    rows = [(i, "en", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "v"])
    out = {
        r["doc_id"]: r["w_value"]
        for r in curation.winsorize(df, "v").collect()
    }
    assert out[1] == 5.0 and out[4] == 5.0 and out[5] == 5.0
    assert out[6] == 6.0
    assert out[96] == 95.0 and out[100] == 95.0


def test_winsorize_matches_bruteforce(spark):
    import math
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.choice(["en", "es", "fr"]), round(rng.uniform(-50, 50), 3))
        for i in range(1, 201)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "v"])
    got = {
        r["doc_id"]: r["w_value"]
        for r in curation.winsorize(df, "v").collect()
    }
    by_grp = {}
    for i, g, v in rows:
        by_grp.setdefault(g, []).append((v, i))
    for g, vals in by_grp.items():
        vals.sort()
        n = len(vals)
        lo = vals[max(1, math.ceil(5 * n / 100)) - 1][0]
        hi = vals[max(1, math.ceil(95 * n / 100)) - 1][0]
        for v, i in vals:
            assert got[i] == min(max(v, lo), hi)


def test_winsorize_broadcasts_bounds(spark):
    df = spark.createDataFrame([(1, "en", 1.0)], ["doc_id", "lang", "v"])
    plan = (
        curation.winsorize(df, "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
