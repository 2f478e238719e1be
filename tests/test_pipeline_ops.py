"""Training-data pipeline operators on hand-built inputs."""

import pytest

from declarative_dataflow_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (3, "the quick brown fox jumps over the lazy cat"),  # near dup
            (4, "completely different words entirely unrelated text"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup(docs):
    groups = {
        r["canonical"]: r["n"]
        for r in dedup.exact_dedup_groups(docs).collect()
    }
    assert groups[1] == 2  # docs 1 and 2 collapse
    assert groups[3] == 1


def test_jaccard_identical_docs(docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, n=1, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # 8 distinct words each ("the" repeats), 7 shared -> 7/9
    assert pairs[(1, 3)] == pytest.approx(7 / 9, abs=1e-4)
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, k=16, bands=4, n=3, threshold=0.2
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs always collide
    assert all(j >= 0.2 for j in pairs.values())


def test_connected_components_collapses_chains(spark):
    # 1-2, 2-3 chain plus isolated 8-9 pair: min-label propagation must
    # cross the chain (1~3 transitively even though they share no edge).
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 8)], ["a", "b"]
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_dedup_groups_canonical_per_cluster(docs):
    # Identical docs always land in one group; every doc maps to a
    # canonical <= itself and canonicals are fixpoints of the mapping.
    groups = {
        r["doc_id"]: r["canonical"]
        for r in dedup.dedup_groups(docs, threshold=0.2).collect()
    }
    assert set(groups) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    for doc, canon in groups.items():
        assert canon <= doc
        assert groups[canon] == canon


def test_simhash_identical_equal(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[1] == sh[2]
    assert sh[1] != sh[4]
    # near-dup hamming distance should be small
    ham = bin(sh[1] ^ sh[3]).count("1")
    assert ham <= 8


def test_token_count(docs):
    n = {r["doc_id"]: r["n_tokens"] for r in text.token_count(docs).collect()}
    assert n[1] == 9
    assert n[5] == 0


def test_quality_and_langid(docs):
    ql = {r["doc_id"]: r["quality"] for r in text.quality_score(docs).collect()}
    assert 0 <= ql[1] <= 1
    lang = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert lang[1] == "en"
    assert lang[4] == "und"


def test_fingerprint_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world")], ["doc_id", "text"]
    )
    fp = {r["doc_id"]: r["fp"] for r in text.fingerprint(docs).collect()}
    assert fp[1] == fp[2]


def test_cosine_topk_identical_vector(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.9, 0.1, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    top = similarity.cosine_topk(emb, query_ids=[0], k=2).collect()
    ranked = sorted(top, key=lambda r: r["rank"])
    assert ranked[0]["neighbor"] == 1 and ranked[0]["sim"] == 1.0
    assert ranked[1]["neighbor"] == 3


def test_lsh_bucket_determinism(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, -2.0, -3.0])],
        ["vec_id", "embedding"],
    )
    sig = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_signature(emb, planes=4).collect()}
    assert sig[0] == sig[1]  # identical vectors share a bucket
    assert sig[0] != sig[2]  # antipodal vectors do not


def test_multimodal_decode_stub(docs):
    out = multimodal.decode_image(multimodal.attach_binary(docs), fake=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    r1 = rows[1]
    assert r1["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert r1["width"] == r1["n_bytes"] % 640 + 1
    assert r1["height"] == r1["n_bytes"] % 480 + 1


def test_multimodal_undecodable_payloads_flagged(docs):
    """fake=False on payloads that are neither PPM/BMP nor PIL-readable
    marks rows 'undecodable' with NULL dims (no longer raises — the
    native numpy decoders made the real path partially functional)."""

    out = multimodal.decode_image(
        multimodal.attach_binary(docs), fake=False
    ).collect()
    assert out and all(r["format"] == "undecodable" for r in out)
    assert all(r["width"] is None for r in out)


def test_frame_sample_bounded(docs):
    out = multimodal.frame_sample(multimodal.attach_binary(docs), 16, 3)
    per_doc = (
        out.groupBy("doc_id").count().collect()
    )
    assert all(r["count"] <= 3 for r in per_doc)


def test_embedding_neardup_exact_and_bucketed(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    exact = {
        (r["a"], r["b"]) for r in similarity.embedding_neardup(emb, 0.9).collect()
    }
    assert exact == {(0, 1)}
    # The LSH-bucketed scale path finds the same near-identical pair.
    bucketed = {
        (r["a"], r["b"])
        for r in similarity.embedding_neardup(emb, 0.9, planes=4).collect()
    }
    assert bucketed == {(0, 1)}


def test_ivf_topk_matches_brute_force_on_probed_cells(spark):
    # Two well-separated clusters; centroids = the two lowest ids, one
    # in each cluster, so probing 1 cell returns the query's cluster.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.95, 0.05]),
            (3, [0.9, 0.1]),
            (4, [0.05, 0.95]),
        ],
        ["vec_id", "embedding"],
    )
    assign = {
        r["vec_id"]: r["cell"] for r in similarity.ivf_assign(emb, 2).collect()
    }
    assert assign == {0: 0, 1: 1, 2: 0, 3: 0, 4: 1}
    top = similarity.ivf_topk(emb, [0], k=2, n_centroids=2, nprobe=1).collect()
    assert [r["neighbor"] for r in sorted(top, key=lambda r: r["rank"])] == [2, 3]


def test_ivf_kmeans_refinement_moves_centroids(spark):
    # Seeds are vec 0 ([1,0]) and vec 1 ([0.6,0.8]): vector 4 starts in
    # cell 1 (cosine to [0.6,0.8] beats [1,0]). One Lloyd step pulls
    # cell 0's centroid toward the x-axis cluster mean and cell 1's
    # toward the y-axis pair, after which vector 4 flips to cell 0 —
    # refinement genuinely re-partitions, not just relabels.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.6, 0.8]),
            (2, [0.0, 1.0]),
            (3, [0.1, 0.9]),
            (4, [0.866, 0.5]),
        ],
        ["vec_id", "embedding"],
    )
    seed = {
        r["vec_id"]: r["cell"] for r in similarity.ivf_assign(emb, 2).collect()
    }
    refined = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(emb, 2, iters=1, dim=2).collect()
    }
    assert seed[4] == 1 and refined[4] == 0
    # Refined centroids are the rounded per-component means of their
    # members under the seed assignment.
    cents = {
        r["cell"]: r["cv"]
        for r in similarity.ivf_centroids(emb, 2, iters=1, dim=2).collect()
    }
    members0 = [[1.0, 0.0]]
    members1 = [[0.6, 0.8], [0.0, 1.0], [0.1, 0.9], [0.866, 0.5]]
    for cell, members in ((0, members0), (1, members1)):
        want = [
            round(sum(v[i] for v in members) / len(members), 6)
            for i in range(2)
        ]
        assert cents[cell] == want


def test_kmeans_null_lowest_id_vector_keeps_dim(spark):
    # A NULL lowest-id vector seeds a NULL centroid. Refinement must
    # take dim from the first non-NULL seed (not the NULL one, which
    # collapsed every refined centroid to [] and every vector into
    # cell 0), the NULL vector lands in the lowest cell, and every
    # other vector's cell is the argmax against the returned
    # centroids: dim-ascending fold, strict >, lowest cell on ties.
    import math
    import random

    rng = random.Random(5)
    rows = [(0, None)] + [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(1, 40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sorted(
        ((r["cell"], r["cv"]) for r in similarity.ivf_centroids(emb, 4, 2).collect()),
        key=lambda t: t[0],
    )
    refined = [cv for _, cv in cents if cv is not None]
    assert len(refined) == 3 and all(len(cv) == 4 for cv in refined)
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.kmeans_assign(emb, k=4, iters=2).collect()
    }
    assert got[0] == cents[0][0]

    def norm(x):
        acc = 0.0
        for i in range(4):
            acc += x[i] * x[i]
        return math.sqrt(acc)

    for vid, v in rows[1:]:
        best_s, best_c = float("-inf"), cents[0][0]
        for cell, cv in cents:
            if cv is None:
                continue  # a NULL centroid scores -inf
            dot = 0.0
            for i in range(4):
                dot += v[i] * cv[i]
            s = dot / (norm(v) * norm(cv))
            if s > best_s:
                best_s, best_c = s, cell
        assert got[vid] == best_c, vid
    assert len(set(got.values())) > 1


def test_resize_and_features(docs):
    b = multimodal.attach_binary(docs)
    resized = multimodal.resize_image(b, width=8, height=4).collect()
    assert all(len(r["payload"]) == 32 for r in resized)
    assert all((r["width"], r["height"]) == (8, 4) for r in resized)

    feats = multimodal.extract_features(b, dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    # L1-normalized histogram.
    assert all(abs(sum(r["features"]) - 1.0) < 1e-5 for r in feats)
    # Deterministic across runs.
    again = multimodal.extract_features(b, dim=8).collect()
    assert {r["doc_id"]: r["features"] for r in feats} == {
        r["doc_id"]: r["features"] for r in again
    }


def test_resize_real_undecodable_degrades_row(docs):
    """fake=False resize/features degrade an UNDECODABLE payload to a
    null output for THAT ROW (consistent with decode_image's
    'undecodable' rows) instead of failing the whole stage; a
    non-square dim is still rejected eagerly."""

    import pytest as _pytest

    b = multimodal.attach_binary(docs)  # arbitrary bytes, none decode
    resized = multimodal.resize_image(b, fake=False).collect()
    assert resized and all(r["payload"] is None for r in resized)
    feats = multimodal.extract_features(b, dim=16, fake=False).collect()
    assert feats and all(r["features"] is None for r in feats)
    with _pytest.raises(ValueError):
        multimodal.extract_features(b, dim=5, fake=False)


def test_resize_real_mixed_batch_survives(spark):
    """One undecodable payload among decodable ones nulls only its own
    row — the decodable rows still resize/feature normally."""

    px = [[(255, 0, 0), (0, 255, 0)], [(10, 20, 30), (40, 50, 60)]]
    binaries = spark.createDataFrame(
        [
            (1, bytearray(_ppm_bytes(2, 2, px))),
            (2, bytearray(b"not an image")),
        ],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["payload"]
        for r in multimodal.resize_image(
            binaries, width=2, height=2, fake=False
        ).collect()
    }
    assert out[2] is None and out[1] is not None
    assert bytes(out[1]).startswith(b"P6\n2 2\n255\n")
    feats = {
        r["doc_id"]: r["features"]
        for r in multimodal.extract_features(binaries, dim=4, fake=False).collect()
    }
    assert feats[2] is None and feats[1] is not None and len(feats[1]) == 4


def test_subword_token_count(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42"), (2, "")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["n_subwords"] for r in text.subword_token_count(df).collect()}
    # hello , world ! 4 2 -> 6; empty -> 0
    assert got == {1: 6, 2: 0}


def test_hash_split_deterministic_partition(docs):
    from declarative_dataflow_spark.operators import sampling

    out = sampling.hash_split(docs, {"train": 0.8, "val": 0.2})
    rows1 = {(r["doc_id"], r["split"]) for r in out.collect()}
    rows2 = {
        (r["doc_id"], r["split"])
        for r in sampling.hash_split(docs, {"train": 0.8, "val": 0.2}).collect()
    }
    assert rows1 == rows2  # reproducible
    splits = {s for _, s in rows1}
    assert splits <= {"train", "val"}
    # Every doc gets exactly one split.
    assert len(rows1) == docs.count()
    # A different salt re-deals.
    redeal = {
        (r["doc_id"], r["split"])
        for r in sampling.hash_split(
            docs, {"train": 0.8, "val": 0.2}, salt="other"
        ).collect()
    }
    assert redeal != rows1


def test_stratified_sample_respects_fractions(spark):
    from declarative_dataflow_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        ["doc_id", "lang"],
    )
    kept = sampling.stratified_sample(
        docs, {"en": 0.5, "de": 0.0}, strata_col="lang"
    )
    langs = {r["lang"] for r in kept.select("lang").distinct().collect()}
    assert langs == {"en"}
    n = kept.count()
    assert 400 <= n <= 600  # ~50% of the 1000 'en' docs


def test_lsh_signature_high_dim_plan_independent(spark):
    """d=256: the signature matches the md5-parity formula computed in
    Python, the plan carries no per-dimension literal arrays (its size
    is independent of d), and no driver query runs when dim is given."""

    import random

    from declarative_dataflow_spark.operators.similarity import _plane_weight

    rng = random.Random(11)
    d, planes = 256, 8
    data = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(6)]
    emb = spark.createDataFrame(data, ["vec_id", "embedding"])

    sig = similarity.hyperplane_signature(emb, planes=planes, dim=d)
    plan_str = sig._jdf.queryExecution().optimizedPlan().toString()
    # Literal-array plans embedded O(planes*d) float literals; the
    # SQL-generated weights keep the plan tiny.
    assert len(plan_str) < 20_000

    got = {r["vec_id"]: r["bucket"] for r in sig.collect()}
    for vec_id, v in data:
        expected = sum(
            (1 << p)
            for p in range(planes)
            if sum(v[i] * _plane_weight(p, i) for i in range(d)) > 0
        )
        assert got[vec_id] == expected


def test_seq_pack_budget_boundaries(spark):
    from declarative_dataflow_spark.operators import packing

    # One shard so packing order is just doc_id order; 9-token docs
    # against a 20-token budget: packs close once their start offset
    # crosses a multiple of the budget.
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 9)) for i in range(6)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["pack_id"])
        for r in packing.seq_pack(docs, budget=20, shards=1).collect()
    }
    assert all(v[0] == 9 for v in out.values())
    # cumulative starts: 0,9,18,27,36,45 -> packs 0,0,0,1,1,2
    assert [out[i][1] for i in range(6)] == [0, 0, 0, 1, 1, 2]


def test_seq_pack_sharding_deterministic(spark):
    from declarative_dataflow_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(50)], ["doc_id", "text"]
    )
    a = packing.seq_pack(docs, budget=8, shards=4).collect()
    b = packing.seq_pack(docs, budget=8, shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    shards = {r["shard"] for r in a}
    assert shards <= set(range(4)) and len(shards) > 1


def test_pii_redact(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call 415-555-2671 or 650-555-0199"),
            (3, "clean text no pii"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.pii_redact(docs).collect()}
    assert out[1]["redacted"] == "mail <EMAIL> now"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 0)
    assert out[2]["redacted"] == "call <PHONE> or <PHONE>"
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 2)
    assert out[3]["redacted"] == "clean text no pii"


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "all words here differ"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_stats(docs).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_distinct"] == 1
    assert out[1]["rep_ratio"] == 0.75
    assert out[2]["rep_ratio"] == 0.0


def test_shortest_hops(spark):
    from declarative_dataflow_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 1)], ["src", "dst"]
    )
    out = {
        (r["x"], r["y"]): r["hops"]
        for r in graph.shortest_hops(edges).collect()
    }
    # BFS ground truth
    adj = {1: [2, 3], 2: [3], 3: [4], 4: [1]}
    expected = {}
    for s in adj:
        frontier, d = [s], 0
        seen = set()
        while frontier:
            d += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if (s, v) not in expected:
                        expected[(s, v)] = d
                        nxt.append(v)
            frontier = [v for v in nxt if v not in seen and not seen.add(v)]
    assert out == expected


def test_pagerank_deterministic_and_normalized(spark):
    from declarative_dataflow_spark.operators import graph

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2), (4, 1)], ["src", "dst"]
    )
    a = {r["node"]: r["rank"] for r in graph.pagerank(e, iters=8).collect()}
    b = {r["node"]: r["rank"] for r in graph.pagerank(e, iters=8).collect()}
    assert a == b
    assert abs(sum(a.values()) - 1.0) < 0.01
    # 4 has no in-edges: jump term only; 1 and 2 get fed by the cycle
    assert a[4] == min(a.values())


def test_quantize_embeddings_roundtrip(spark):
    from declarative_dataflow_spark.operators import similarity

    v = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(v).collect()}
    assert out[1]["qvec"][0] == 127  # max |x| maps to full scale
    assert all(-127 <= q <= 127 for q in out[1]["qvec"])
    # dequantized values approximate the originals within one step
    s = out[1]["scale"]
    deq = [q * s for q in out[1]["qvec"]]
    for orig, d in zip([1.0, -0.5, 0.25], deq):
        assert abs(orig - d) <= s
    assert out[2]["scale"] == 0.0 and out[2]["qvec"] == [0, 0, 0]


def test_chunk_audio_windows(docs):
    binaries = multimodal.attach_binary(docs)
    out = multimodal.chunk_audio(
        binaries, sample_rate=4, bytes_per_sample=1, window_s=2.0, hop_s=1.0
    )
    rows_ = [r for r in out.collect() if r["doc_id"] == 1]
    # hop = 4 bytes, window = 8 bytes, overlapping chunks, bounded ends
    assert [r["start_byte"] for r in rows_[:3]] == [0, 4, 8]
    assert all(r["end_byte"] <= len("the quick brown fox jumps over the lazy dog") for r in rows_)
    assert rows_[1]["start_s"] == 1.0


def test_shortest_hops_sources_restriction(spark):
    from declarative_dataflow_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    srcs = spark.createDataFrame([(1,)], ["node"])
    out = {
        (r["x"], r["y"]): r["hops"]
        for r in graph.shortest_hops(edges, sources=srcs).collect()
    }
    assert out == {(1, 2): 1, (1, 3): 2, (1, 4): 3}


def test_shortest_paths_weighted(spark):
    from declarative_dataflow_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (3, 1, 1.0)],
        ["src", "dst", "cost"],
    )
    out = {
        (r["x"], r["y"]): r["cost"]
        for r in graph.shortest_paths(edges).collect()
    }
    assert out[(1, 3)] == 2.0  # via 2, beats direct 5.0
    assert out[(3, 2)] == 2.0  # around the cycle
    assert out[(1, 1)] == 3.0  # full loop


def test_relaxation_loop_bound_raises(spark):
    """The relaxation loop raises instead of returning a partial
    table: a 4-node chain needs three unit-cost rounds (two that
    improve, one that confirms), so a budget of two cannot converge."""

    from declarative_dataflow_spark.operators import graph

    chain = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)], ["src", "dst", "cost"]
    )
    hops = chain.drop("cost")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.shortest_hops(hops, max_iters=2)
    assert graph.shortest_hops(hops, max_iters=3).count() == 6
    # one unrolled round reaches every pair but cannot confirm it
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.shortest_paths(chain, max_iters=1)
    assert graph.shortest_paths(chain, max_iters=2).count() == 6


def test_shingle_arrays_explode_under_ansi(spark):
    """shingle_arrays returns a checkpointed table, so exploding it
    directly under ANSI mode never subscripts the word array of a
    document shorter than ``n`` words."""

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "one two three four"), (3, "x"), (4, "")],
        ["doc_id", "text"],
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = sorted(
            tuple(r)
            for r in dedup.shingle_arrays(docs, n=3)
            .select("doc_id", F.explode("sarr").alias("shingle"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == [(2, "one_two_three"), (2, "two_three_four")]


def test_vocab_topk(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "aa cc 7")], ["doc_id", "text"]
    )
    out = {r["token"]: (r["n"], r["rk"]) for r in text.vocab_topk(docs, k=2).collect()}
    # aa x3 ranks first; the n=1 tie ('7', 'bb', 'cc') breaks
    # lexicographically, so '7' takes rank 2.
    assert out == {"aa": (3, 1), "7": (1, 2)}


def _ppm_bytes(w, h, px):
    """px: list of rows of (r,g,b)."""
    body = bytes(c for row in px for p in row for c in p)
    return b"P6\n%d %d\n255\n" % (w, h) + body


def _bmp_bytes(w, h, px):
    """Uncompressed 24-bit bottom-up BMP; px top-down rows of (r,g,b)."""
    import struct

    stride = (w * 3 + 3) & ~3
    rows = b""
    for row in reversed(px):  # bottom-up storage
        r = b"".join(bytes((b_, g_, r_)) for (r_, g_, b_) in row)  # BGR
        rows += r + b"\x00" * (stride - len(r))
    data_offset = 54
    size = data_offset + len(rows)
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + info + rows


def test_multimodal_real_decode_ppm_bmp(spark):
    from declarative_dataflow_spark.operators import multimodal

    px = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
          [(10, 20, 30), (40, 50, 60), (70, 80, 90)]]
    binaries = spark.createDataFrame(
        [
            (1, bytearray(_ppm_bytes(3, 2, px))),
            (2, bytearray(_bmp_bytes(3, 2, px))),
            (3, bytearray(b"\x89PNG not really")),
        ],
        "doc_id long, payload binary",
    )
    meta = {r["doc_id"]: r for r in multimodal.decode_image(binaries, fake=False).collect()}
    assert (meta[1]["format"], meta[1]["width"], meta[1]["height"]) == ("ppm", 3, 2)
    assert (meta[2]["format"], meta[2]["width"], meta[2]["height"]) == ("bmp", 3, 2)
    assert meta[3]["format"] == "undecodable" and meta[3]["width"] is None


def test_multimodal_real_resize_roundtrip(spark):
    """Real nearest-neighbor resize: PPM and BMP payloads of the SAME
    image resize to identical PPM bytes (decoders agree pixel-exact)."""

    from declarative_dataflow_spark.operators import multimodal

    px = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
          [(10, 20, 30), (40, 50, 60), (70, 80, 90)]]
    binaries = spark.createDataFrame(
        [
            (1, bytearray(_ppm_bytes(3, 2, px))),
            (2, bytearray(_bmp_bytes(3, 2, px))),
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: bytes(r["payload"]) for r in
           multimodal.resize_image(binaries, width=2, height=2, fake=False).collect()}
    assert out[1] == out[2]
    assert out[1].startswith(b"P6\n2 2\n255\n")
    # Nearest-neighbor on 3->2 picks source columns 0 and 1, rows 0 and 1.
    body = out[1].split(b"255\n", 1)[1]
    assert body == bytes((255, 0, 0, 0, 255, 0, 10, 20, 30, 40, 50, 60))


def test_multimodal_real_features_grid(spark):
    from declarative_dataflow_spark.operators import multimodal

    # 2x2 image, dim=4 -> one pixel per grid cell; grayscale means
    # normalize to an L1 unit vector.
    px = [[(30, 30, 30), (60, 60, 60)],
          [(90, 90, 90), (120, 120, 120)]]
    binaries = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes(2, 2, px)))], "doc_id long, payload binary"
    )
    [row] = multimodal.extract_features(binaries, dim=4, fake=False).collect()
    feats = row["features"]
    assert len(feats) == 4
    total = 30 + 60 + 90 + 120
    import pytest as _pytest

    assert feats[0] == _pytest.approx(30 / total, abs=1e-6)
    assert feats[3] == _pytest.approx(120 / total, abs=1e-6)


def test_audio_features_real_pcm(spark):
    """Real int16-PCM features: a pure sine has rms ~ A/sqrt(2) and a
    zero-crossing rate of ~2 crossings per period; silence is 0/0.
    A canonical WAV header is skipped transparently."""

    import numpy as np

    sr = 8000
    t = np.arange(sr)  # 1 second
    freq, amp = 100, 0.5
    sine = (amp * 32767 * np.sin(2 * np.pi * freq * t / sr)).astype("<i2")
    silence = np.zeros(sr, dtype="<i2")
    wav_hdr = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"\x00" * 32
    binaries = spark.createDataFrame(
        [
            (1, bytearray(sine.tobytes())),
            (2, bytearray(silence.tobytes())),
            (3, bytearray(wav_hdr + sine.tobytes())),
        ],
        "doc_id long, payload binary",
    )
    rows = multimodal.audio_features(
        binaries, sample_rate=sr, window_s=0.5, hop_s=0.5
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # sine: rms = amp/sqrt(2) within rounding; zcr = 2*freq/sr
    first = sorted(by_doc[1], key=lambda r: r["chunk_idx"])[0]
    assert abs(float(first["rms"]) - amp / 2**0.5) < 0.01
    assert abs(float(first["zcr"]) - 2 * freq / sr) < 0.005
    assert all(float(r["rms"]) == 0.0 for r in by_doc[2])
    # WAV header skipped: identical features to the raw PCM doc
    assert sorted((r["chunk_idx"], r["rms"], r["zcr"]) for r in by_doc[3]) == \
           sorted((r["chunk_idx"], r["rms"], r["zcr"]) for r in by_doc[1])


def test_quantize_dequantize_roundtrip_search(spark):
    """Search over the dequantized int8 corpus ranks the identical
    vector first; reconstruction error stays within one code step."""

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    corpus = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(emb)
    )
    rec = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
    assert all(abs(a - b) <= 1 / 127 for a, b in zip(rec[0], [1.0, 0.0, 0.0]))
    top = similarity.cosine_topk(corpus, query_ids=[0], k=1).collect()
    assert top[0]["neighbor"] == 1 and top[0]["sim"] == 1.0


def test_embed_dedup_groups_chains(spark):
    """Cosine chains collapse: 0~1 and 1~2 put all three in one group
    even if 0!~2 directly; the isolated vector is its own canonical."""

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.92, 0.39]),   # ~0 (cos .92) and ~2 (cos .92)
            (2, [0.71, 0.71]),
            (3, [-1.0, 0.0]),    # isolated
        ],
        ["vec_id", "embedding"],
    )
    groups = {
        r["vec_id"]: r["canonical"]
        for r in similarity.embed_dedup_groups(emb, threshold=0.9).collect()
    }
    assert groups == {0: 0, 1: 0, 2: 0, 3: 3}


def test_embed_neardup_planes_zero_degrades_to_exact(spark):
    """planes<=0 (degenerate bucketing) must mean ONE bucket — i.e.
    exactly the all-pairs baseline — never a mis-built plane set that
    silently drops pairs."""

    from declarative_dataflow_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.95, 0.05]),
        ],
        ["vec_id", "embedding"],
    )
    exact = {
        (r["a"], r["b"]) for r in
        similarity.embedding_neardup(emb, threshold=0.8).collect()
    }
    degenerate = {
        (r["a"], r["b"]) for r in
        similarity.embedding_neardup(emb, threshold=0.8, planes=0).collect()
    }
    assert exact and degenerate == exact


def test_jaccard_prefix_filter_exact(spark):
    """The prefix-filtered set-similarity join returns EXACTLY the
    plain inverted-index join's pairs (the AllPairs/PPJoin lemma: a
    pair with Jaccard >= t must collide inside both rarest-first
    prefixes of length |d| - ceil(t|d|) + 1), across random corpora
    including stopword-heavy documents."""

    import random

    rng = random.Random(17)
    common = ["the", "of", "and"]
    rare = [f"w{i}" for i in range(30)]
    for trial in range(3):
        rows = []
        for doc_id in range(12):
            k = rng.randint(3, 8)
            words = rng.sample(rare, k) + rng.sample(common, rng.randint(0, 3))
            rng.shuffle(words)
            rows.append((doc_id, " ".join(words)))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        for t in (0.3, 0.5, 0.8):
            plain = {
                (r["a"], r["b"], r["jaccard"])
                for r in dedup.jaccard_pairs(docs, n=1, threshold=t).collect()
            }
            filtered = {
                (r["a"], r["b"], r["jaccard"])
                for r in dedup.jaccard_pairs(
                    docs, n=1, threshold=t, prefix_filter=True
                ).collect()
            }
            assert filtered == plain, (trial, t, rows)


def test_jaccard_prefix_ceil_integral_product(spark):
    """Regression (ADVICE r5): when threshold * |d| is exactly integral
    the double product can round UP (0.07 * 100 -> 7.000000000000001 ->
    ceil 8), shortening the prefix by one and dropping a qualifying
    pair. Two 100-word documents sharing exactly 13 words (J = 13/187
    ~ 0.0695 < 0.07 for others, here we pick 15 shared -> J ~ 0.081)
    must survive prefix_filter=True at t=0.07 exactly as without it."""

    shared = [f"s{i:02d}" for i in range(15)]
    only_a = [f"a{i:02d}" for i in range(85)]
    only_b = [f"b{i:02d}" for i in range(85)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(only_a + shared)),
            (1, " ".join(shared + only_b)),
        ],
        ["doc_id", "text"],
    )
    plain = {
        (r["a"], r["b"], r["jaccard"])
        for r in dedup.jaccard_pairs(docs, n=1, threshold=0.07).collect()
    }
    filtered = {
        (r["a"], r["b"], r["jaccard"])
        for r in dedup.jaccard_pairs(
            docs, n=1, threshold=0.07, prefix_filter=True
        ).collect()
    }
    assert plain == filtered and plain


def test_jaccard_group_identical_exact(spark):
    """Grouping identical shingle sets before pairing returns EXACTLY
    the ungrouped pairs: within-group pairs at 1.0 and cross-group
    pairs at the representatives' Jaccard, on a corpus of exact
    duplicates (reordered and with repeated words — the same set),
    near-duplicates one word apart, and unrelated documents, at
    thresholds up to 1.0, with and without the prefix filter."""

    import random

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(24)]
    rows = []
    doc_id = 0
    for _ in range(4):
        base = rng.sample(vocab, 6)
        variants = [
            base,
            list(reversed(base)),
            base + base[:2],
            base[:-1] + [rng.choice([w for w in vocab if w not in base])],
        ]
        for words in variants:
            rows.append((doc_id, " ".join(words)))
            doc_id += 1
    for _ in range(4):
        rows.append((doc_id, " ".join(rng.sample(vocab, 5))))
        doc_id += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def pairs(**kw):
        return {
            (r["a"], r["b"], r["jaccard"])
            for r in dedup.jaccard_pairs(docs, n=1, **kw).collect()
        }

    for t in (0.3, 0.7, 1.0):
        for pf in (False, True):
            plain = pairs(threshold=t, prefix_filter=pf)
            grouped = pairs(threshold=t, prefix_filter=pf, group_identical=True)
            assert grouped == plain, (t, pf)
            assert any(j == 1.0 for _, _, j in plain), (t, pf)


def test_simhash_neardup_banded_equals_bruteforce(spark):
    """The Manku-banded Hamming-LSH pairs equal exact all-pairs
    bit_count(xor) <= d for every d < bands (the pigeonhole lemma
    guarantees no candidate is missed), across randomized corpora of
    near-identical and unrelated documents."""

    import itertools
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(50)]
    for trial in range(3):
        rows = []
        doc_id = 0
        for base in range(6):
            words = rng.sample(vocab, 12)
            for variant in range(3):  # near-identical cluster
                w = list(words)
                for _ in range(variant):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
                rows.append((doc_id, " ".join(w)))
                doc_id += 1
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        for d, bands in ((3, 4), (7, 8)):
            brute = {
                (x, y, bin(sh[x] ^ sh[y]).count("1"))
                for x, y in itertools.combinations(sorted(sh), 2)
                if bin(sh[x] ^ sh[y]).count("1") <= d
            }
            got = {
                (r["a"], r["b"], r["dist"])
                for r in dedup.simhash_neardup_pairs(
                    docs, max_distance=d, bands=bands
                ).collect()
            }
            assert got == brute, (trial, d, bands)
            assert brute  # the clusters must actually produce pairs


def test_simhash_neardup_parameter_validation(spark):
    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError):  # pigeonhole violated
        dedup.simhash_neardup_pairs(docs, max_distance=4, bands=4)
    with _pytest.raises(ValueError):  # bands must divide bits
        dedup.simhash_neardup_pairs(docs, max_distance=2, bands=5)


def test_pq_adc_equals_reconstructed_distance(spark):
    """The ADC sum-of-table-lookups distance is EXACTLY the squared L2
    between the query and the decoded (reconstructed from codebook
    entries) neighbor — the identity that makes PQ search correct."""

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = similarity.pq_codebooks(emb, m=4, n_codes=8, iters=1, dim=16)
    codes = similarity.pq_encode(emb, books, m=4, dim=16)
    book = {(r["sub"], r["code"]): r["cv"] for r in books.collect()}
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    vecs = dict(rows)

    got = similarity.pq_topk(emb, [0, 1], k=3, m=4, n_codes=8, iters=1, dim=16)
    for r in got.collect():
        q, n = r["q"], r["neighbor"]
        recon = []
        for sub in range(4):
            recon.extend(book[(sub, code_map[n][sub])])
        expect = sum((a - b) ** 2 for a, b in zip(vecs[q], recon))
        assert abs(r["adist"] - round(expect, 4)) <= 1e-9, (q, n)


def test_pq_assign_matches_bruteforce_argmin(spark):
    # The Arrow-batched argmin accumulates squared differences
    # dim-ascending (the _l2sq fold's order) and scans codes ascending
    # with a strict <, so every (vector, subspace) code must equal a
    # pure-Python argmin against the same books, seed books and
    # refined books alike: exact ties (a duplicated seed) keep the
    # lowest code, and a NULL vector, whose distance is undefined for
    # every code, lands in the lowest code.
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ]
    rows[1] = (1, list(rows[0][1]))  # duplicate seed -> tied codes
    rows.append((50, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for iters in (0, 1):
        books = similarity.pq_codebooks(
            emb, m=4, n_codes=8, iters=iters, dim=16
        )
        by_sub: dict = {}
        for r in books.collect():
            by_sub.setdefault(r["sub"], []).append((r["code"], r["cv"]))
        got = {
            (r["vec_id"], r["sub"]): r["code"]
            for r in similarity.pq_encode(emb, books, m=4, dim=16).collect()
        }
        assert len(got) == 51 * 4
        for vid, v in rows:
            for sub, entries in by_sub.items():
                entries = sorted(entries)
                best_d, best_c = float("inf"), entries[0][0]
                if v is not None:
                    sv = v[sub * 4 : sub * 4 + 4]
                    for code, cv in entries:
                        d = 0.0
                        for a, b in zip(sv, cv):
                            d += (a - b) * (a - b)
                        if d < best_d:
                            best_d, best_c = d, code
                assert got[(vid, sub)] == best_c, (iters, vid, sub)
        assert all(got[(50, sub)] == 0 for sub in range(4))  # NULL row
        if iters == 0:
            # seed codes 0 and 1 are the same vector: the tie keeps 0
            assert all(got[(1, sub)] == 0 for sub in range(4))


def test_pq_compression_shape_and_validation(spark):
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(12)]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    books = similarity.pq_codebooks(emb, m=3, n_codes=4, iters=0, dim=12)
    assert books.count() == 12  # m * n_codes entries
    codes = similarity.pq_encode(emb, books, m=3, dim=12)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == 3 for r in per_vec)  # m codes per vector
    seed_ids = set(range(4))
    assert {r["code"] for r in codes.collect()} <= seed_ids

    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.pq_codebooks(emb, m=5, n_codes=4, dim=12)  # 5 ∤ 12


def test_pq_topk_finds_cluster_neighbors(spark):
    """On well-separated clusters the PQ top-k must stay inside the
    query's cluster (quantization cannot cross a large margin).
    vec_ids interleave the clusters so the deterministic lowest-id
    seeds span all of them (seeds confined to one cluster cannot
    represent the others — k-means seeding 101, true of any PQ)."""

    import random

    rng = random.Random(9)
    centers = [
        [rng.choice((-12.0, 12.0)) for _ in range(8)] for _ in range(4)
    ]
    rows = []
    for c, center in enumerate(centers):
        for i in range(10):
            rows.append(
                (
                    i * 4 + c,  # interleaved: ids 0..7 cover all clusters
                    [x + rng.uniform(-0.1, 0.1) for x in center],
                )
            )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = similarity.pq_topk(
        emb, [0, 1, 2, 3], k=3, m=4, n_codes=8, iters=1, dim=8
    )
    assert got.count() == 12
    for r in got.collect():
        assert r["neighbor"] % 4 == r["q"] % 4, (r["q"], r["neighbor"])


# ---------------------------------------------------------------------------
# Gopher rules / line dedup / BM25 / ngram LM / BPE merges (round 6)
# ---------------------------------------------------------------------------


def test_gopher_rules_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on a mat and the dog lay low"),  # passes all
            (2, "### ### ... ### zz9"),  # symbols, no stopwords
            (3, "supercalifragilisticexpialidocious onomatopoeia the a"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in text.gopher_rules(
            docs, min_words=3, max_words=50, min_mean_len=2.0
        ).collect()
    }
    r1 = rows[1]
    assert r1["n_words"] == 11 and r1["pass"]
    assert r1["n_stop"] >= 2 and r1["alpha_frac"] == 1.0
    r2 = rows[2]
    assert not r2["pass_symbol"] and not r2["pass_stop"] and not r2["pass"]
    # 9 '#' + 1 '...' over 5 words
    assert r2["symbol_ratio"] == 2.0
    r3 = rows[3]
    assert not r3["pass_mean_len"]  # mean word length > 10
    assert r3["pass_words"] and not r3["pass"]


def test_line_dedup_removes_boilerplate(spark):
    from declarative_dataflow_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "COOKIE banner\nunique line one\ncookie banner"),
            (2, "cookie banner\nunique line two"),
            (3, "all unique\nhere too"),
            (4, "cookie banner"),  # only boilerplate -> empty text
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in curation.line_dedup(docs).collect()}
    assert rows[1]["text"] == "unique line one"
    assert rows[1]["n_lines"] == 3 and rows[1]["n_removed"] == 2
    assert rows[2]["text"] == "unique line two"
    assert rows[3]["text"] == "all unique\nhere too"
    assert rows[3]["n_removed"] == 0
    assert rows[4]["text"] == "" and rows[4]["n_removed"] == 1


def test_bm25_ranking_and_math(spark):
    import math

    from declarative_dataflow_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "spark query engine"),
            (2, "spark spark spark padding padding padding"),
            (3, "unrelated words entirely"),
            (4, "query engine query engine"),
        ],
        ["doc_id", "text"],
    )
    out = retrieval.bm25_topk(docs, ["spark", "query"], k=3).collect()
    assert [r["rk"] for r in out] == [1, 2, 3]
    assert {r["doc_id"] for r in out} == {1, 2, 4}

    # independent recompute of doc 1's score
    def idf(n, df):
        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    def part(tf, dl, avgdl, n, df, k1=1.2, b=0.75):
        return round(
            idf(n, df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)),
            6,
        )

    avgdl = (3 + 6 + 3 + 4) / 4
    expect1 = part(1, 3, avgdl, 4, 2) + part(1, 3, avgdl, 4, 2)
    got = {r["doc_id"]: r["score"] for r in out}
    assert got[1] == pytest.approx(expect1, abs=1e-6)


def test_ngram_lm_score_matches_hand_model(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "b z")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in text.ngram_lm_score(docs, alpha=0.5).collect()
    }
    # corpus: bigrams ab x2 (doc1) + ab (doc2) => c2(a,b)=3, c2(b,a)=1,
    # c2(b,z)=1; unigrams a=3 b=4 z=1; V=3
    def logp(c2, c1):
        return round(math.log((c2 + 0.5) / (c1 + 0.5 * 3)), 9)

    d1 = round((logp(3, 3) + logp(1, 4) + logp(3, 3)) / 3, 6)
    assert out[1]["n_bigrams"] == 3
    assert float(out[1]["avg_logp"]) == pytest.approx(d1, abs=2e-6)
    assert out[3]["n_bigrams"] == 1
    assert float(out[3]["avg_logp"]) == pytest.approx(logp(1, 4), abs=2e-6)
    # gibberish (rare bigrams) scores lower than the common pattern
    assert out[3]["avg_logp"] < out[1]["avg_logp"]


def test_bpe_merges_learns_expected_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest")],
        ["doc_id", "text"],
    )
    out = text.bpe_merges(docs, n_merges=3).collect()
    got = [(r["rk"], r["left"], r["right"], r["merged"], r["n"]) for r in out]
    # pair counts round 1: (l,o)=5, (o,w)=5, (e,w)=3(from new/newer/newest)
    # ... tie (l,o) vs (o,w) breaks lexicographically -> (l,o) first
    assert got[0] == (1, "l", "o", "lo", 5)
    assert got[1] == (2, "lo", "w", "low", 5)
    assert got[2][1:3] in {("e", "w"), ("n", "e")}


def test_bpe_merge_overlap_and_adjacency(spark):
    # 'aaaa' under merge (a,a): greedy left-to-right -> 'aa' 'aa',
    # so round 2 sees pair (aa,aa)
    docs = spark.createDataFrame([(1, "aaaa aaaa b")], ["doc_id", "text"])
    out = text.bpe_merges(docs, n_merges=2).collect()
    assert (out[0]["left"], out[0]["right"], out[0]["n"]) == ("a", "a", 6)
    assert (out[1]["left"], out[1]["right"], out[1]["merged"]) == (
        "aa",
        "aa",
        "aaaa",
    )
    assert out[1]["n"] == 2


def _bpe_reference(word_counts, n_merges):
    """Pure-Python BPE (Sennrich 2016 get_stats/merge): overlapping
    pair counts, argmax by (count desc, pair asc), greedy
    left-to-right non-overlapping fuse per word."""

    seqs = {w: list(w) for w in word_counts}
    merges = []
    for rk in range(1, n_merges + 1):
        pairs = {}
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + word_counts[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), n = best
        merges.append((rk, l, r, l + r, n))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_matches_reference_random(spark):
    """Randomized corpora over tiny alphabets (forcing overlapping
    pairs and shared-delimiter adjacency): the Spark operator's merge
    table equals the classic in-memory BPE on every seed."""

    import random

    for seed in range(4):
        rng = random.Random(100 + seed)
        alphabet = "ab" if seed % 2 == 0 else "abc"
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 10))
        ]
        docs = spark.createDataFrame(
            [(i, " ".join(rng.choices(words, k=rng.randint(2, 8))))
             for i in range(3)],
            ["doc_id", "text"],
        )
        counts = {}
        for r in docs.collect():
            for w in r["text"].split():
                counts[w] = counts.get(w, 0) + 1
        expect = _bpe_reference(counts, 5)
        got = [
            (r["rk"], r["left"], r["right"], r["merged"], r["n"])
            for r in text.bpe_merges(docs, n_merges=5).collect()
        ]
        assert got == expect, f"seed {seed}"


def test_line_dedup_matches_reference_random(spark):
    """Randomized line corpora: line_dedup equals a pure-Python
    computation of the C4-style rule for min_docs in {2, 3}."""

    import random

    from declarative_dataflow_spark.operators import curation

    for seed in range(3):
        rng = random.Random(7 + seed)
        pool = [f"Line {i}" for i in range(8)] + ["  line 3  ", "LINE 5"]
        rows = [
            (i, "\n".join(rng.choice(pool)
                          for _ in range(rng.randint(1, 5))))
            for i in range(12)
        ]
        min_docs = 2 + seed % 2
        norm_docs = {}
        for doc_id, txt in rows:
            for ln in txt.split("\n"):
                norm_docs.setdefault(ln.strip().lower(), set()).add(doc_id)
        expect = {}
        for doc_id, txt in rows:
            lines = txt.split("\n")
            kept = [
                ln for ln in lines
                if len(norm_docs[ln.strip().lower()]) < min_docs
            ]
            expect[doc_id] = (
                "\n".join(kept), len(lines), len(lines) - len(kept)
            )
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
            for r in curation.line_dedup(docs, min_docs=min_docs).collect()
        }
        assert got == expect, f"seed {seed}"


def test_mix_weights_upsamples_low_resource(spark):
    import math

    from declarative_dataflow_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "en"),
            (2, "a b c d e f g h", "en"),
            (3, "x y", "de"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {r["group"]: r for r in curation.mix_weights(docs, alpha=0.3).collect()}
    assert out["en"]["n_tokens"] == 16 and out["de"]["n_tokens"] == 2
    p_en, p_de = 16 / 18, 2 / 18
    z = p_en**0.3 + p_de**0.3
    assert out["en"]["q"] == pytest.approx(p_en**0.3 / z, abs=1e-6)
    assert out["de"]["q"] == pytest.approx(p_de**0.3 / z, abs=1e-6)
    # alpha < 1 upsamples: q_de > p_de, q_en < p_en
    assert out["de"]["q"] > out["de"]["p"]
    assert out["en"]["q"] < out["en"]["p"]
    assert math.isclose(out["en"]["q"] + out["de"]["q"], 1.0, abs_tol=2e-6)


def test_tfidf_topk_prefers_rare_terms(spark):
    import math

    from declarative_dataflow_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "common rare common unique"),
            (2, "common other words here"),
            (3, "common stuff entirely different"),
        ],
        ["doc_id", "text"],
    )
    out = retrieval.tfidf_topk_terms(docs, k=2).collect()
    d1 = sorted(
        [r for r in out if r["doc_id"] == 1], key=lambda r: r["rk"]
    )
    # 'common' appears in all 3 docs -> idf 0 -> never tops rare terms
    assert {d1[0]["term"], d1[1]["term"]} == {"rare", "unique"}
    assert d1[0]["score"] == pytest.approx(round(math.log(3), 6), abs=1e-6)
    assert all(len([r for r in out if r["doc_id"] == d]) == 2 for d in (1, 2, 3))


# ---------------------------------------------------------------------------
# Sketches: HyperLogLog distinct count, Count-Min heavy hitters
# ---------------------------------------------------------------------------


def test_hll_bitlen_ladder_matches_python():
    """The integer CASE bit-length ladder agrees with int.bit_length
    at every boundary (0, 1, 2^k-1, 2^k, 2^k+1)."""

    import duckdb

    from declarative_dataflow_spark.operators import sketch

    edges = {0, 1}
    for k in range(1, sketch.HLL_VBITS + 1):
        edges |= {(1 << k) - 1, 1 << k, (1 << k) + 1}
    edges = sorted(v for v in edges if v < (1 << sketch.HLL_VBITS))
    ladder = sketch._bitlen_case_sql("v", sketch.HLL_VBITS)
    got = duckdb.sql(
        f"SELECT v, {ladder} AS b FROM (SELECT unnest({edges}) AS v)"
    ).fetchall()
    assert got == [(v, v.bit_length()) for v in edges]


def test_hll_estimate_within_tolerance(spark):
    """2000 truly-distinct tokens: the 256-register estimate lands
    within 3 standard errors (~20%) of the truth."""

    from declarative_dataflow_spark.operators import sketch

    docs = spark.createDataFrame(
        [(d, " ".join(f"tok{d}_{i}" for i in range(100))) for d in range(20)],
        ["doc_id", "text"],
    )
    row = sketch.hll_distinct(docs).collect()[0]
    assert row["exact"] == 2000
    assert row["m"] == 256
    assert abs(row["est"] - 2000) / 2000 < 0.20
    assert row["err_pct"] == pytest.approx(
        (row["est"] - 2000) / 2000 * 100, abs=1e-5
    )


def test_hll_registers_merge_by_max(spark):
    """Registers from two corpus halves combine by pairwise MAX into
    exactly the whole-corpus registers — the property that makes the
    sketch shard- and epoch-mergeable."""

    import pyspark.sql.functions as F

    from declarative_dataflow_spark.operators import sketch

    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}_{i} shared{i}" for i in range(40))) for d in range(8)],
        ["doc_id", "text"],
    )
    a = docs.filter("doc_id < 4")
    b = docs.filter("doc_id >= 4")
    merged = (
        sketch.hll_registers(a)
        .unionByName(sketch.hll_registers(b))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )
    whole = sketch.hll_registers(docs)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    est_m = sketch.hll_estimate_from_registers(merged).collect()[0]
    est_w = sketch.hll_estimate_from_registers(whole).collect()[0]
    assert est_m == est_w


def test_cms_never_underestimates_and_ranks_heavy_hitters(spark):
    from declarative_dataflow_spark.operators import sketch

    docs = spark.createDataFrame(
        [
            (1, " ".join(["heavy"] * 50 + ["medium"] * 20)),
            (2, " ".join(["heavy"] * 30 + [f"rare{i}" for i in range(30)])),
        ],
        ["doc_id", "text"],
    )
    out = sketch.cms_topk(docs, k=5).collect()
    assert all(r["est"] >= r["exact"] for r in out)
    assert out[0]["term"] == "heavy" and out[0]["exact"] == 80
    assert out[0]["rk"] == 1
    assert out[1]["term"] == "medium" and out[1]["exact"] == 20


def test_cms_sketch_merges_by_sum(spark):
    """CMS grids from two halves combine by cellwise SUM into the
    whole-corpus grid (counter linearity)."""

    import pyspark.sql.functions as F

    from declarative_dataflow_spark.operators import sketch

    docs = spark.createDataFrame(
        [(d, " ".join(f"t{(d * 7 + i) % 13}" for i in range(25))) for d in range(6)],
        ["doc_id", "text"],
    )
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    merged = (
        sketch.cms_sketch(a)
        .unionByName(sketch.cms_sketch(b))
        .groupBy("j", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sketch.cms_sketch(docs)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


# ---------------------------------------------------------------------------
# BPE encode, RAG chunking, RRF hybrid retrieval
# ---------------------------------------------------------------------------


def test_bpe_encode_matches_hand_derivation(spark):
    """Corpus 'abab abab' + 'ab cd': merge1=(a,b), merge2=(ab,ab);
    doc1 encodes to 2 tokens, doc2 to 1 + 2 = 3."""

    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "ab cd")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in text.bpe_encode(docs, n_merges=2).collect()}
    assert out[1]["n_words"] == 2 and out[1]["n_tokens"] == 2
    assert out[2]["n_words"] == 2 and out[2]["n_tokens"] == 3
    # with zero merges every char is a token
    out0 = {r["doc_id"]: r for r in text.bpe_encode(docs, n_merges=0).collect()}
    assert out0[1]["n_tokens"] == 8 and out0[2]["n_tokens"] == 4


def test_chunk_docs_windows_and_hashes(spark):
    import hashlib

    from declarative_dataflow_spark.operators import packing

    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "   "), (3, "single")],
        ["doc_id", "text"],
    )
    out = sorted(
        packing.chunk_docs(docs, window=4, stride=3).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    d1 = [r for r in out if r["doc_id"] == 1]
    assert [(r["start"], r["n_tokens"]) for r in d1] == [
        (0, 4), (3, 4), (6, 4), (9, 1),
    ]
    # whitespace-only doc yields nothing; 1-token doc yields one chunk
    assert not [r for r in out if r["doc_id"] == 2]
    assert [(r["start"], r["n_tokens"]) for r in out if r["doc_id"] == 3] == [
        (0, 1)
    ]
    # chunk hash is md5 of the space-joined window
    expect = hashlib.md5(" ".join(words[3:7]).encode()).hexdigest()
    assert d1[1]["h"] == expect


def test_rrf_fusion_prefers_docs_in_both_lists(spark):
    from declarative_dataflow_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (0, "probe itself"),
            (1, "spark spark spark spark"),   # lexical hit
            (2, "spark query other words"),   # lexical hit, also dense
            (3, "unrelated text entirely"),   # dense-only hit
        ],
        ["doc_id", "text"],
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),      # orthogonal to probe
            (2, [0.9, 0.1]),      # close to probe
            (3, [1.0, 0.05]),     # closest to probe
        ],
        ["vec_id", "embedding"],
    )
    out = retrieval.rrf_fusion(
        docs, embs, ["spark", "query"], query_vec_id=0, k=4, depth=2
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 2 is in both lists -> two reciprocal terms -> top fused rank
    assert out[0]["doc_id"] == 2
    assert by_id[2]["rk_bm"] is not None and by_id[2]["rk_cos"] is not None
    expect = round(1.0 / (60 + by_id[2]["rk_bm"]) + 1.0 / (60 + by_id[2]["rk_cos"]), 9)
    assert by_id[2]["rrf"] == pytest.approx(expect, abs=1e-12)
    # single-list docs carry a NULL rank on the missing side
    assert by_id[1]["rk_cos"] is None or by_id[1]["rk_bm"] is None


def test_lm_quality_buckets_tiers(spark):
    """9 docs split into thirds by fluency: repeated common bigrams
    land in bucket 1, rare/garbled in bucket 3; bucket sizes 3/3/3."""

    from collections import Counter

    fluent = "the cat sat on the mat and the cat sat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(3)]
        + [(i, "the cat ran off the mat quickly today") for i in range(3, 6)]
        + [(i, f"zx{i} qq{i} vv{i} kk{i} jj{i} ww{i}") for i in range(6, 9)],
        ["doc_id", "text"],
    )
    out = text.lm_quality_buckets(docs, buckets=3).collect()
    by_id = {r["doc_id"]: r["bucket"] for r in out}
    assert Counter(by_id.values()) == {1: 3, 2: 3, 3: 3}
    # the three gibberish docs are the tail
    assert all(by_id[i] == 3 for i in range(6, 9))
    # the three most fluent (max repeated-bigram mass) are the head
    assert all(by_id[i] == 1 for i in range(3))


def test_nb_quality_separates_classes_and_matches_hand_model(spark):
    """Explicit labels on a 4-doc corpus: the log-odds of a doc made of
    pass-class words beats one made of fail-class words, and doc 1's
    score reproduces the hand-computed NB value."""

    import math

    docs = spark.createDataFrame(
        [
            (1, "good clean prose", True),
            (2, "good solid prose", True),
            (3, "spam junk noise", False),
            (4, "good junk prose", False),
        ],
        ["doc_id", "text", "lbl"],
    )
    out = {
        r["doc_id"]: r
        for r in text.nb_quality_score(docs, label_col="lbl").collect()
    }
    assert out[1]["label"] is True and out[3]["label"] is False
    assert out[1]["score"] > out[3]["score"]

    # hand model: pass tokens = 6, fail tokens = 6, V = 7 distinct
    def w(cp, cf):
        return round(
            math.log((cp + 0.5) / (6 + 0.5 * 7))
            - math.log((cf + 0.5) / (6 + 0.5 * 7)),
            9,
        )

    prior = round(math.log((2 + 0.5) / (2 + 0.5)), 9)
    expect = round(w(2, 1) + w(1, 0) + w(2, 1) + prior, 6)  # good clean prose
    assert out[1]["score"] == pytest.approx(expect, abs=1e-9)


def test_nb_quality_gopher_weak_labels(spark):
    """Default mode trains on the corpus's own Gopher gate: a fluent
    long doc outranks a symbol-heavy short one."""

    fluent = " ".join(
        ["the quick brown fox jumps over the lazy dog and runs on"] * 6
    )
    junk = "### ### ### ..."
    docs = spark.createDataFrame(
        [(1, fluent), (2, junk), (3, fluent + " again"), (4, "## .. #")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in text.nb_quality_score(docs, min_words=10).collect()
    }
    assert out[1]["label"] is True and out[2]["label"] is False
    assert out[1]["score"] > out[2]["score"]


def test_kmeans_assign_separates_obvious_clusters(spark):
    """Two tight orthogonal bundles with k=2: each bundle lands in one
    cell, refinement pulls the centroid to the bundle mean (assignment
    stable across an extra iteration)."""

    rows = [(i, [1.0, 0.01 * i]) for i in range(5)] + [
        (10 + i, [0.01 * i, 1.0]) for i in range(5)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out2 = {r["vec_id"]: r["cell"] for r in similarity.kmeans_assign(emb, k=2, iters=2).collect()}
    a = {out2[i] for i in range(5)}
    b = {out2[10 + i] for i in range(5)}
    assert len(a) == 1 and len(b) == 1 and a != b
    out3 = {r["vec_id"]: r["cell"] for r in similarity.kmeans_assign(emb, k=2, iters=3).collect()}
    assert out3 == out2


def test_hist_quantiles_envelope_contains_true_quantile(spark):
    """For every q, the true ceil(q*n)-th smallest value lies inside
    the reported [lb, ub] bucket — the log-bucket accuracy contract —
    on an adversarial value set (zeros, exact powers of two, power-
    of-two minus one, big outliers)."""

    import math

    from declarative_dataflow_spark.operators import sketch

    vals = [0, 1, 1, 2, 3, 4, 7, 8, 15, 16, 100, 1023, 1024, 65535, 10**9]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["i", "n_chars"])
    qs = (0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    out = {r["q"]: r for r in sketch.hist_quantiles(df, qs=qs).collect()}
    srt = sorted(vals)
    n = len(srt)
    for q in qs:
        rk = math.ceil(
            __import__("fractions").Fraction(str(q)) * n
        )
        true = srt[rk - 1]
        r = out[q]
        assert r["lb"] <= true <= r["ub"], (q, true, dict(r.asDict()))
        assert r["rk"] == rk
        assert r["n"] == n


def test_hist_buckets_merge_across_shards(spark):
    """Histograms are sum-mergeable: the bucket table of a union
    equals the per-shard tables consolidated by SUM (the property the
    incremental twin and any shard-parallel rollup rely on)."""

    from pyspark.sql import functions as F

    from declarative_dataflow_spark.operators import sketch

    s1 = spark.createDataFrame([(1, 5), (2, 300)], ["i", "n_chars"])
    s2 = spark.createDataFrame([(3, 6), (4, 70000)], ["i", "n_chars"])
    merged = (
        sketch.hist_buckets(s1)
        .unionByName(sketch.hist_buckets(s2))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = sketch.hist_buckets(s1.unionByName(s2))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_corpus_profile_matches_bruteforce(spark):
    """Per-column stats equal hand-computed values, including a column
    with nulls and exact=False staying within HLL++ tolerance."""

    from declarative_dataflow_spark.operators import profile

    rows = [
        (1, "alpha", None),
        (2, "beta", 10),
        (3, "alpha", 20),
        (4, None, 20),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "score"])
    out = {r["col"]: r for r in profile.corpus_profile(df).collect()}
    assert set(out) == {"id", "name", "score"}
    assert out["id"].asDict() == {
        "col": "id", "n_rows": 4, "n_nonnull": 4, "n_nulls": 0,
        "ndv": 4, "min_val": "1", "max_val": "4",
    }
    assert out["name"].asDict() == {
        "col": "name", "n_rows": 4, "n_nonnull": 3, "n_nulls": 1,
        "ndv": 2, "min_val": "alpha", "max_val": "beta",
    }
    assert out["score"].asDict() == {
        "col": "score", "n_rows": 4, "n_nonnull": 3, "n_nulls": 1,
        "ndv": 2, "min_val": "10", "max_val": "20",
    }
    approx = {r["col"]: r for r in profile.corpus_profile(df, exact=False).collect()}
    assert approx["id"]["ndv"] == 4  # HLL++ exact at tiny cardinality


# ---------------------------------------------------------------- k-core


def test_kcore_peels_transitively(spark):
    from declarative_dataflow_spark.operators import graph

    # triangle {1,2,3} + a pendant chain 3-4-5: removing 5 (deg 1)
    # drops 4 to deg 1, so the 2-core is exactly the triangle.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    out = {
        r["node"]: r["deg"] for r in graph.kcore(edges, k=2).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_symmetrizes_and_ignores_self_loops(spark):
    from declarative_dataflow_spark.operators import graph

    # duplicate directed pairs and self-loops must not inflate degree
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3)], ["src", "dst"]
    )
    out = {
        r["node"]: r["deg"] for r in graph.kcore(edges, k=2).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_when_over_k(spark):
    from declarative_dataflow_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert graph.kcore(edges, k=5).count() == 0


def test_kcore_raises_without_convergence(spark):
    from declarative_dataflow_spark.operators import graph

    # a 6-chain peels from both ends: 1 round per endpoint pair,
    # needs 3 rounds to empty under k=2 — max_iters=1 must raise.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="kcore"):
        graph.kcore(edges, k=2, max_iters=1).collect()


def test_kcore_matches_bruteforce(spark):
    import random

    from declarative_dataflow_spark.operators import graph

    rng = random.Random(11)
    pairs = {(rng.randint(0, 29), rng.randint(0, 29)) for _ in range(120)}
    edges = spark.createDataFrame(sorted(pairs), ["src", "dst"])
    k = 4
    got = {r["node"]: r["deg"] for r in graph.kcore(edges, k=k).collect()}

    und = {(s, d) for s, d in pairs if s != d}
    und |= {(d, s) for s, d in und}
    while True:
        deg = {}
        for s, _ in und:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, c in deg.items() if c >= k}
        nxt = {(s, d) for s, d in und if s in keep and d in keep}
        if nxt == und:
            break
        und = nxt
    exp = {}
    for s, _ in und:
        exp[s] = exp.get(s, 0) + 1
    assert got == exp


def test_assign_cells_large_k_path_matches_bruteforce(spark):
    """At large k (k*dim = 4800, far past any JVM codegen budget) the
    Arrow argmax kernel must equal a pure-Python brute-force argmax
    exactly (lowest cell id on ties, zero-norm rows to the lowest
    cell)."""

    import math
    import random

    from declarative_dataflow_spark.operators.similarity import (
        _assign_cells,
        _seed_centroids,
    )

    rng = random.Random(3)
    dim, n = 16, 300  # k = n seeds -> k*dim = 4800
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    rows[7] = (7, [0.0] * dim)  # zero-norm row
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = _seed_centroids(emb, n, "vec_id", "embedding")
    got = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells(emb, cents, "vec_id", "embedding").collect()
    }
    cent_rows = sorted(
        ((r["cell"], r["cv"]) for r in cents.collect()), key=lambda t: t[0]
    )
    for vid, v in rows:
        vn = math.sqrt(sum(x * x for x in v))
        best = None
        for cell, cv in cent_rows:
            cn = math.sqrt(sum(x * x for x in cv))
            sim = (
                float("-inf")
                if vn * cn == 0
                else sum(a * b for a, b in zip(v, cv)) / (vn * cn)
            )
            if best is None or sim > best[0]:
                best = (sim, cell)
        assert got[vid] == best[1], vid


def test_retrieval_eval_metrics_by_hand(spark):
    """4 query vectors in a 10-vector corpus with label ground truth:
    MRR and nDCG@k agree with hand-computed values."""

    import math

    from declarative_dataflow_spark.operators import retrieval

    # label 0 vectors cluster along e0, label 1 along e1; one label-0
    # outlier (id 8) sits closer to the label-1 axis.
    def vec(axis, mag, noise_axis, noise):
        v = [0.0, 0.0, 0.0]
        v[axis] = mag
        v[noise_axis] = noise
        return v

    rows = [
        (0, vec(0, 1.0, 2, 0.10), 0),
        (1, vec(0, 1.0, 2, 0.11), 0),
        (2, vec(0, 1.0, 2, 0.30), 0),
        (3, vec(1, 1.0, 2, 0.10), 1),
        (4, vec(1, 1.0, 2, 0.12), 1),
        (5, vec(1, 1.0, 2, 0.25), 1),
        (6, vec(0, 1.0, 2, 0.50), 0),
        (7, vec(1, 1.0, 2, 0.50), 1),
        (8, vec(1, 1.0, 2, 0.05), 0),  # mislabeled outlier
        (9, vec(0, 1.0, 2, 0.05), 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    k = 3
    out = {
        r["q"]: r
        for r in retrieval.retrieval_eval(
            emb, query_ids=[0, 3], k=k
        ).collect()
    }

    # brute-force expectation
    import itertools

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(
            sum(x * y for x, y in zip(a, b)) / (na * nb), 4
        )

    by_id = {i: (v, l) for i, v, l in rows}
    disc = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    for q in (0, 3):
        qv, ql = by_id[q]
        ranked = sorted(
            ((cos(qv, by_id[n][0]), n) for n in by_id if n != q),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        rels = [1 if by_id[n][1] == ql else 0 for _, n in ranked]
        n_rel = sum(1 for n in by_id if n != q and by_id[n][1] == ql)
        dcg = sum(d * r for d, r in zip(disc, rels))
        idcg = sum(disc[: min(k, n_rel)])
        mrr = 0.0
        for i, r in enumerate(rels, 1):
            if r:
                mrr = 1.0 / i
                break
        row = out[q]
        assert row["n_rel"] == n_rel
        assert row["hits"] == sum(rels)
        assert abs(row["mrr"] - round(mrr, 6)) < 1e-9
        assert abs(row["ndcg"] - round(dcg / idcg, 6)) < 1e-6


def test_global_row_number_is_contiguous_across_partitions(spark):
    from declarative_dataflow_spark.operators import dedup as dd

    rows = [(i, f"key{i % 37:03d}x{i}") for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "k"])
    out = dd.global_row_number(df, ["k", "id"], partitions=8).collect()
    by_rn = sorted((r["rn"], r["k"], r["id"]) for r in out)
    # contiguous 1..n
    assert [t[0] for t in by_rn] == list(range(1, 501))
    # rn order == (k, id) order
    assert [t[1:] for t in by_rn] == sorted((r["k"], r["id"]) for r in out)


def test_sorted_neighborhood_matches_bruteforce(spark):
    import re

    from declarative_dataflow_spark.operators import dedup as dd

    rows = [
        (i, f"The  quick doc {i % 23:02d} body text number {i}")
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    w = 4
    got = sorted(
        (r["a"], r["b"], r["gap"])
        for r in dd.sorted_neighborhood_pairs(
            docs, window=w, key_chars=16
        ).collect()
    )
    keyed = sorted(
        (re.sub(r"\s+", " ", t.lower())[:16], i) for i, t in rows
    )
    exp = []
    for p in range(len(keyed)):
        for q in range(p + 1, min(p + w + 1, len(keyed))):
            exp.append((keyed[p][1], keyed[q][1], q - p))
    assert got == sorted(exp)


def test_sorted_neighborhood_no_global_window(spark):
    """The global numbering must not plan a single-partition window
    (windowspecdefinition with no partition columns) or a range
    join."""

    from declarative_dataflow_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], ["doc_id", "text"]
    )
    df = dd.sorted_neighborhood_pairs(docs, window=3)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in phys
    assert "CartesianProduct" not in phys
    # every window in the plan is PARTITIONED by __pid — the global
    # numbering never plans an un-partitioned (single-partition) sort
    assert "windowspecdefinition(__pid" in phys, phys
    import re as _re

    for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", phys):
        assert m.group(1).startswith("__pid"), m.group(0)


def test_connected_components_matches_union_find(spark):
    import random

    from declarative_dataflow_spark.operators import dedup as dd

    rng = random.Random(20260815)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        r["id"]: r["component"]
        for r in dd.connected_components(df).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {}
    for a, b in edges:
        for v in (a, b):
            exp[v] = find(v)
    assert got == exp


def test_connected_components_strict_raises_on_budget(spark):
    import pytest as _pytest

    from declarative_dataflow_spark.operators import dedup as dd

    # a 12-vertex path needs 11 hash-min hops; 2 rounds x 3 = 6 cannot
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["a", "b"]
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        dd.connected_components(chain, max_iters=2, step=3).collect()
    # non-strict returns the best-effort labeling instead
    out = dd.connected_components(chain, max_iters=2, step=3, strict=False)
    assert out.count() == 12
    # ...and a budget that covers the diameter converges without a
    # pure confirm round (last-hop no-op tagging)
    done = {
        r["component"]
        for r in dd.connected_components(chain, max_iters=2).collect()
    }
    assert done == {0}


def test_connected_components_adversarial_diameter(spark):
    # A 10,000-edge PATH is the worst case for hash-min label
    # propagation: diameter 10,000, so pure min-pushing needs ~1,667
    # six-hop rounds — far past the default 25-round budget. The
    # per-round pointer jump (component <- label(component)) doubles
    # label reach each round, making convergence O(log diameter):
    # this must finish inside the DEFAULT budget with every vertex
    # labeled 0, and strict=True guarantees the labeling is a checked
    # fixpoint, not a best-effort cut-off.
    from declarative_dataflow_spark.operators import dedup as dd

    edges = spark.range(10_000).selectExpr("id AS a", "id + 1 AS b")
    out = dd.connected_components(edges)  # strict by default
    roots = out.select("component").distinct().collect()
    assert [r["component"] for r in roots] == [0]
    assert out.count() == 10_001


def test_cross_neardup_bipartite(spark):
    """Bipartite LSH decontamination: a train doc that near-duplicates
    an eval doc is reported with its exact Jaccard; train x train and
    eval x eval near-dups are NEVER generated (the self-join work the
    bipartite form removes); unrelated docs stay silent."""

    from declarative_dataflow_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    train = spark.createDataFrame(
        [
            (1, base),  # near-dup of eval doc 100
            (2, base),  # identical to train 1 -> must NOT pair (same side)
            (3, "completely different words about spark catalyst tungsten"),
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [
            (100, base + " extra"),
            (101, base + " extra"),  # eval twin of 100 -> no same-side pair
            (102, "nothing shared with anything at all here whatsoever"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["train_id"], r["eval_id"]): r["jaccard"]
        for r in dedup.cross_neardup(
            train, eval_docs, threshold=0.5
        ).collect()
    }
    assert set(got) == {(1, 100), (1, 101), (2, 100), (2, 101)}
    # |train shingles|=11 of 13 words -> 11 3-gram shingles... compute
    # expected exactly instead of hand-counting: J = |A∩B| / |A∪B| on
    # distinct word-3-gram sets.
    def sh(t):
        w = t.lower().split(" ")
        return {"_".join(w[i : i + 3]) for i in range(len(w) - 2)}

    a, b = sh(base), sh(base + " extra")
    want = round(len(a & b) / len(a | b), 4)
    assert got[(1, 100)] == want


def test_token_kl_shift_zero_and_positive(spark):
    """Identical slices have zero divergence; a drifted slice has
    positive KL both ways and JS between 0 and ln(2); results match a
    plain-Python computation of the same smoothed formulas."""

    import math

    from declarative_dataflow_spark.operators.profile import token_kl_shift

    a = spark.createDataFrame(
        [(1, "aa bb aa cc"), (2, "bb aa dd")], ["doc_id", "text"]
    )
    same = token_kl_shift(a, a).collect()[0]
    assert same["kl_ab"] == 0.0 and same["kl_ba"] == 0.0 and same["js"] == 0.0
    assert same["vocab"] == 4

    b = spark.createDataFrame(
        [(3, "aa bb ee ee ff")], ["doc_id", "text"]
    )
    got = token_kl_shift(a, b).collect()[0]

    ca = {"aa": 3, "bb": 2, "cc": 1, "dd": 1}
    cb = {"aa": 1, "bb": 1, "ee": 2, "ff": 1}
    vocab = set(ca) | set(cb)
    v, na, nb = len(vocab), sum(ca.values()), sum(cb.values())
    kl_ab = kl_ba = js = 0.0
    for t in vocab:
        p = (ca.get(t, 0) + 1) / (na + v)
        q = (cb.get(t, 0) + 1) / (nb + v)
        m = (p + q) / 2
        kl_ab += p * math.log(p / q)
        kl_ba += q * math.log(q / p)
        js += (p * math.log(p / m) + q * math.log(q / m)) / 2
    assert got["vocab"] == v == 6
    assert got["kl_ab"] == round(kl_ab, 6) > 0
    assert got["kl_ba"] == round(kl_ba, 6) > 0
    assert got["js"] == round(js, 6)
    assert 0 < got["js"] < math.log(2)


def test_embed_drift_identical_and_shifted(spark):
    """Identical slices give cos_means=1, norm_ratio=1; an orthogonally
    shifted slice drops the cosine; values match a plain-Python
    computation of the same mean-vector formulas."""

    import math

    from declarative_dataflow_spark.operators.profile import embed_drift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [3.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    same = embed_drift(a, a).collect()[0]
    assert same["cos_means"] == 1.0 and same["norm_ratio"] == 1.0
    assert same["n_a"] == 2 and same["n_b"] == 2

    b = spark.createDataFrame(
        [(3, [0.0, 4.0, 0.0]), (4, [0.0, 2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    got = embed_drift(a, b).collect()[0]
    ma = [2.0, 0.0, 1.0]
    mb = [0.0, 3.0, 1.0]
    dot = sum(x * y for x, y in zip(ma, mb))
    la = math.sqrt(sum(x * x for x in ma))
    lb = math.sqrt(sum(x * x for x in mb))
    assert got["cos_means"] == round(dot / (la * lb), 6)
    assert got["norm_ratio"] == round(lb / la, 6)
    assert got["n_a"] == 2 and got["n_b"] == 2


def test_snapshot_diff_statuses(spark):
    """All four statuses from one diff: content identity travels as
    md5, ids unique per snapshot, removed/added come from the outer
    join's null sides."""

    from declarative_dataflow_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma revised"), (4, "delta")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",
        4: "added",
    }


def test_scale_testdata_salt_injective_past_factor_11(spark):
    """The replica scaler's per-copy text salt must map NO two copies
    to the same text (the r9 sf3 soak found copies 11/22 identical to
    copy 0 under the old single-rotation salt, which quadratically
    inflated near-dup pairs at factor > 11)."""

    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from scale_testdata import _replicate

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    out = _replicate(docs, "documents", 30).select("text").collect()
    texts = [r["text"] for r in out]
    assert len(texts) == 30
    assert len(set(texts)) == 30, "per-copy salt must be injective"

def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_match_matches_bruteforce(spark):
    """Symmetric-deletion blocking is COMPLETE for distance 1: the
    operator must equal the all-pairs levenshtein join on a randomized
    small-alphabet corpus dense in 0/1/2-distance pairs (substitutions,
    insertions, deletions, exact dupes)."""

    import random

    from declarative_dataflow_spark.operators import dedup as dd

    rng = random.Random(907)
    rows = [
        (i, "".join(rng.choice("abc") for _ in range(rng.randint(1, 7))))
        for i in range(160)
    ]
    got = sorted(
        (r["a"], r["b"], r["dist"])
        for r in dd.fuzzy_match_pairs(
            spark.createDataFrame(rows, ["id", "s"]), id_col="id", s_col="s"
        ).collect()
    )
    exp = sorted(
        (ia, ib, _lev(sa, sb))
        for ia, sa in rows
        for ib, sb in rows
        if ia < ib and _lev(sa, sb) <= 1
    )
    assert got == exp
    assert any(d == 0 for _, _, d in exp)  # exact dupes exercised
    assert any(d == 1 for _, _, d in exp)


def test_fuzzy_match_rejects_wide_radius(spark):
    from declarative_dataflow_spark.operators import dedup as dd

    df = spark.createDataFrame([(1, "a")], ["id", "s"])
    with pytest.raises(ValueError):
        dd.fuzzy_match_pairs(df, max_dist=2)


def test_fuzzy_match_no_cartesian(spark):
    from declarative_dataflow_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, f"name{i:04d}") for i in range(200)], ["id", "s"]
    )
    out = dd.fuzzy_match_pairs(df)
    out.collect()
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys

def _tarjan_scc(edges):
    """Iterative Tarjan over an adjacency dict; returns {node: min id
    of its SCC} — the independent reference for the scc operator."""

    adj = {}
    nodes = set()
    for a, b in edges:
        if a != b:
            adj.setdefault(a, []).append(b)
        nodes.add(a)
        nodes.add(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    out = {}
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, iter(adj.get(root, [])))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj.get(w, []))))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
    return out


def test_scc_matches_tarjan_randomized(spark):
    import random

    from declarative_dataflow_spark.operators import graph as G

    rng = random.Random(911)
    n = 60
    edges = list(
        {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(110)
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["scc"] for r in G.scc(df, max_rounds=60).collect()
    }
    exp = _tarjan_scc([(a, b) for a, b in edges if a != b])
    assert got == exp


def test_scc_chain_of_cycles(spark):
    """A DAG chain of 3-cycles: trim removes nothing (every node sits
    on a cycle), so the outer FW-BW rounds must peel the chain — the
    adversarial shape for the coloring scheme."""

    from declarative_dataflow_spark.operators import graph as G

    edges = []
    k = 8
    for i in range(k):
        base = 3 * i
        edges += [
            (base, base + 1),
            (base + 1, base + 2),
            (base + 2, base),
        ]
        if i + 1 < k:
            edges.append((base, base + 3))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc"] for r in G.scc(df, max_rounds=60).collect()}
    exp = {3 * i + j: 3 * i for i in range(k) for j in range(3)}
    assert got == exp


def test_scc_self_loops_and_isolated_cycles(spark):
    from declarative_dataflow_spark.operators import graph as G

    edges = [(1, 1), (1, 2), (2, 3), (3, 2), (7, 8), (8, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc"] for r in G.scc(df).collect()}
    # node 1 keeps only a trimmed singleton (self-loop dropped)
    assert got == {1: 1, 2: 2, 3: 2, 7: 7, 8: 7}


def test_c4_rules_directed(spark):
    from declarative_dataflow_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            # 3 good lines -> kept page, bad lines removed
            (
                1,
                "alpha beta gamma delta end.\n"
                "one two three four five!\n"
                "no terminal punctuation here\n"
                "short line.\n"
                'quoted line with five words"',
            ),
            # javascript line removed, page falls under min_lines
            (
                2,
                "enable javascript to view this.\n"
                "good line one two three.\n"
                "another good line right here.",
            ),
            (3, "this page is lorem ipsum filler text.\na.\nb.\nc."),
            (4, "code sample { int x } here.\nmore.\nwords."),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in tx.c4_rules(docs, min_words_per_line=5, min_lines=3).collect()
    }
    assert rows[1]["n_lines"] == 5 and rows[1]["n_kept"] == 3
    assert rows[1]["keep"] is True
    assert rows[1]["text"].count("\n") == 2
    assert rows[2]["n_kept"] == 2 and rows[2]["keep"] is False
    assert rows[3]["has_lorem"] is True and rows[3]["keep"] is False
    assert rows[4]["has_brace"] is True and rows[4]["keep"] is False
    assert rows[5]["n_kept"] == 0 and rows[5]["keep"] is False


def test_minhash_est_error_bruteforce(spark):
    """est must equal the exact fraction of equal signature
    components and jaccard the exact set overlap, for every
    exact-band candidate pair — verified against a row-side brute
    force on a corpus dense in near-duplicates."""

    from declarative_dataflow_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    docs = []
    for i in range(24):
        w = list(words)
        if i % 3 == 1:
            w[i % len(w)] = "mutant"
        if i % 3 == 2:
            w = w[::-1]
        docs.append((i, " ".join(w)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    k, bands, n = 16, 4, 3
    got = {
        (r["a"], r["b"]): (r["est"], r["jaccard"], r["abs_err"])
        for r in dd.minhash_est_error(df, k=k, bands=bands, n=n).collect()
    }
    assert got, "no candidate pairs — corpus not near-dup dense"
    sigs = {
        r["doc_id"]: r["sig"]
        for r in dd.minhash_signatures(df, k=k, n=n).collect()
    }
    sets = {
        r["doc_id"]: set(r["hs"])
        for r in dd.hashed_shingle_sets(df, n=n).collect()
    }
    rows = k // bands
    for (a, b), (est, jac, err) in got.items():
        sa, sb = sigs[a], sigs[b]
        assert any(
            sa[bi * rows : (bi + 1) * rows] == sb[bi * rows : (bi + 1) * rows]
            for bi in range(bands)
        ), (a, b)
        eq = sum(1 for x, y in zip(sa, sb) if x == y)
        assert est == round(eq / k, 4)
        i = len(sets[a] & sets[b])
        assert jac == round(i / (len(sets[a]) + len(sets[b]) - i), 4)
        assert err == round(abs(est - jac), 4)
    # exact duplicates appear and carry zero error
    dups = [(a, b) for (a, b), (e, j, r) in got.items() if e == 1.0]
    assert dups and all(got[p][2] == 0.0 for p in dups)

def test_fuzzy_groups_matches_union_find(spark):
    import random

    from declarative_dataflow_spark.operators import dedup as dd

    rng = random.Random(41)
    rows = [
        (i, "".join(rng.choice("abcd") for _ in range(rng.randint(4, 8))))
        for i in range(80)
    ]
    got = {
        r["id"]: r["canonical"]
        for r in dd.fuzzy_match_groups(
            spark.createDataFrame(rows, ["id", "s"]), id_col="id", s_col="s"
        ).collect()
    }
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ia, sa in rows:
        for ib, sb in rows:
            if ia < ib and _lev(sa, sb) <= 1:
                ra, rb = find(ia), find(ib)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    exp = {i: find(i) for i, _ in rows}
    assert got == exp
    assert len(set(exp.values())) > 1  # non-trivial clustering

def test_fuzzy_match_full_table_bruteforce_duckdb(spark):
    """Blocking completeness on the FULL sf0.01 customer table (the
    declared query uses the % 7 slice for scale-sane output; this
    pins the dense instance): equality with DuckDB's brute-force
    length-banded levenshtein join."""

    import duckdb

    from declarative_dataflow_spark.operators import dedup as dd

    c = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    got = sorted(
        (r["a"], r["b"], r["dist"])
        for r in dd.fuzzy_match_pairs(
            c, id_col="c_custkey", s_col="c_name"
        ).collect()
    )
    con = duckdb.connect()
    exp = sorted(
        tuple(r)
        for r in con.execute(
            "SELECT a.c_custkey, b.c_custkey, "
            "levenshtein(a.c_name, b.c_name) "
            "FROM read_parquet('/root/testdata/sf0.01/customer.parquet') a "
            "JOIN read_parquet('/root/testdata/sf0.01/customer.parquet') b "
            "ON a.c_custkey < b.c_custkey "
            "AND abs(length(a.c_name) - length(b.c_name)) <= 1 "
            "WHERE levenshtein(a.c_name, b.c_name) <= 1"
        ).fetchall()
    )
    assert got == exp and len(got) > 10_000

import os as _os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_FUZZ_PROP = settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "50")) // 2,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_FUZZ_PROP
@given(
    strings=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=6),
        min_size=1,
        max_size=30,
    )
)
def test_prop_fuzzy_match_blocking_complete(spark, strings):
    """PROPERTY: symmetric-deletion blocking is complete for edit
    distance 1 on arbitrary strings — including empty strings (whose
    deletion neighborhood is just themselves; Spark's
    sequence(1, 0) descends, which the substr arithmetic must
    tolerate), duplicates (dist 0), and insert/delete pairs. Equality
    with the brute-force python DP on every generated corpus."""

    rows = list(enumerate(strings))
    got = sorted(
        (r["a"], r["b"], r["dist"])
        for r in __import__(
            "declarative_dataflow_spark.operators.dedup",
            fromlist=["dedup"],
        )
        .fuzzy_match_pairs(
            spark.createDataFrame(rows, "id long, s string"),
            id_col="id",
            s_col="s",
        )
        .collect()
    )
    exp = sorted(
        (ia, ib, _lev(sa, sb))
        for ia, sa in rows
        for ib, sb in rows
        if ia < ib and _lev(sa, sb) <= 1
    )
    assert got == exp


def test_scc_state_dir_contract(spark, tmp_path):
    """scc rebases fixpoint state through state_dir: a caller-provided
    dir is used and left in place (cluster-FS contract); the default
    temp dir is removed after the result materializes."""

    from declarative_dataflow_spark.operators import graph as G

    edges = [(1, 2), (2, 1), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    mine = str(tmp_path / "scc_state")
    got = {r["node"]: r["scc"] for r in G.scc(df, state_dir=mine).collect()}
    assert got == {1: 1, 2: 1, 3: 3}
    import os as _o

    assert _o.path.isdir(mine) and _o.listdir(mine)  # caller's dir kept


def test_lsh_precision_recall_bounds(spark):
    """The eval's identities: found == tp + fp, true == tp + fn,
    precision/recall in [0,1]; at a saturating banding (bands == k,
    1-row bands: any shared min collides) recall must reach every
    pair that shares a single hashed min — strictly >= the 4-band
    recall on the same corpus."""

    from declarative_dataflow_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    r4 = dd.lsh_precision_recall(
        docs, k=16, bands=4, n=3, threshold=0.05
    ).collect()[0]
    assert r4["n_found"] == r4["tp"] + r4["fp"]
    assert r4["n_true"] == r4["tp"] + r4["fn"]
    assert 0.0 <= r4["precision"] <= 1.0
    assert 0.0 <= r4["recall"] <= 1.0
    r16 = dd.lsh_precision_recall(
        docs, k=16, bands=16, n=3, threshold=0.05
    ).collect()[0]
    assert r16["recall"] >= r4["recall"]
    assert r16["n_true"] == r4["n_true"]  # truth independent of banding


def test_text_norm_directed(spark):
    from declarative_dataflow_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "Résumé   café "),
            (2, "ALREADY CLEAN"),
            (3, "clean text"),
            (4, "niño français über"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in tx.text_norm(docs).collect()}
    assert rows[1]["text"] == "resume cafe" and rows[1]["changed"] is True
    assert rows[2]["text"] == "already clean" and rows[2]["changed"] is True
    assert rows[3]["text"] == "clean text" and rows[3]["changed"] is False
    assert rows[4]["text"] == "nino francais uber"
    # idempotent: normalizing the output changes nothing
    again = tx.text_norm(
        spark.createDataFrame(
            [(i, r["text"]) for i, r in rows.items()], ["doc_id", "text"]
        )
    ).collect()
    assert all(r["changed"] is False for r in again)


def test_link_prediction_star_graph(spark):
    """Star 1-{2,3,4} plus edge 2-3: the only predictable links are
    (2,4) and (3,4) through center 1 (deg 3), each ra = round(1/3, 15);
    adjacent pairs never appear; top_k=1 picks (2,4) by the u
    tiebreak; capping centers at degree 2 removes the only center."""

    from declarative_dataflow_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], ["src", "dst"]
    )
    out = sorted(
        tuple(r) for r in g.link_prediction(edges).collect()
    )
    third = round(1.0 / 3, 15)
    assert out == [(2, 4, 1, third), (3, 4, 1, third)]
    top1 = g.link_prediction(edges, top_k=1).collect()
    assert [(r["u"], r["w"]) for r in top1] == [(2, 4)]
    capped = g.link_prediction(edges, max_center_degree=2).collect()
    assert capped == []


def test_link_prediction_scores_sum_over_centers(spark):
    """Two disjoint centers sharing the same leaf pair accumulate:
    centers 10 (deg 2) and 20 (deg 3) both connect 1 and 2, so
    ra(1,2) = 1/2 + 1/3 and cn = 2; direction of input edges is
    irrelevant (symmetrized), duplicates collapse."""

    from declarative_dataflow_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(10, 1), (2, 10), (20, 1), (20, 2), (20, 3), (10, 1)],
        ["src", "dst"],
    )
    out = {(r["u"], r["w"]): r for r in g.link_prediction(edges).collect()}
    r12 = out[(1, 2)]
    assert r12["cn"] == 2
    assert r12["ra"] == float(round(1.0 / 2, 15) + round(1.0 / 3, 15))
    # (1,3) and (2,3) via center 20 only
    assert out[(1, 3)]["cn"] == 1 and out[(2, 3)]["cn"] == 1


def test_dedup_keep_best_picks_highest_quality(spark):
    """In a near-dup cluster the canonical is the highest-n_chars
    member (ties to the smallest doc_id); singletons map to
    themselves. Docs 1/2/3 are one chain cluster (shared shingles),
    doc 9 is unrelated."""

    from declarative_dataflow_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base, 100),
            (2, base + " extra", 260),
            (3, base + " extra", 260),
            (9, "totally different words nothing shared here at all x y", 50),
        ],
        ["doc_id", "text", "n_chars"],
    )
    out = {r["doc_id"]: r["canonical"] for r in
           dd.dedup_keep_best(docs, threshold=0.2).collect()}
    # cluster {1,2,3}: 2 and 3 tie on n_chars=260 -> smaller doc_id 2
    assert out[1] == 2 and out[2] == 2 and out[3] == 2
    assert out[9] == 9
    # survivors: exactly one per cluster
    assert sorted({v for v in out.values()}) == [2, 9]


@_FUZZ_PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    cap=st.sampled_from([None, 2, 3]),
)
def test_prop_link_prediction_matches_bruteforce(spark, edges, cap):
    """PROPERTY: link_prediction == the textbook RA computation on
    random directed multigraphs (self-loops, duplicates, both
    directions), for capped and uncapped centers: symmetrize, drop
    loops, score every non-adjacent pair by sum(round(1/deg, 15))
    over common neighbors below the cap."""

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        tuple(r)
        for r in g.link_prediction(
            df, top_k=1000, max_center_degree=cap
        ).collect()
    )

    import decimal

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {}
    q15 = decimal.Decimal("1e-15")
    for v, nbrs in adj.items():
        if cap is not None and len(nbrs) > cap:
            continue
        # mirror the operator's algebra EXACTLY: double quotient,
        # quantized to 15 decimals, summed as exact decimals (a float
        # accumulator can drift an ULP from the decimal sum)
        contrib = decimal.Decimal(1.0 / len(nbrs)).quantize(
            q15, rounding=decimal.ROUND_HALF_UP
        )
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                u, w = ns[i], ns[j]
                if w in adj.get(u, ()):
                    continue  # already adjacent
                cn, ra = want.get((u, w), (0, decimal.Decimal(0)))
                want[(u, w)] = (cn + 1, ra + contrib)
    want_rows = sorted(
        (u, w, cn, float(ra)) for (u, w), (cn, ra) in want.items()
    )
    assert got == want_rows


def test_hard_negatives_excludes_same_label(spark):
    """Only different-label neighbors rank: the query's own class —
    including its most-similar twin — never appears; NULL-label rows
    drop on either side; ranking is (sim desc, neighbor) within the
    surviving candidates."""

    from declarative_dataflow_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 7),     # query, label 7
            (1, [0.99, 0.1, 0.0], 7),    # same label: excluded
            (2, [0.9, 0.2, 0.0], 8),     # hard negative (closest)
            (3, [0.0, 1.0, 0.0], 8),     # easy negative
            (4, [0.8, 0.3, 0.0], None),  # NULL label: drops
        ],
        ["vec_id", "embedding", "label"],
    )
    out = sim.hard_negatives(emb, query_ids=[0], k=3).collect()
    assert [(r["neighbor"], r["rank"]) for r in out] == [(2, 1), (3, 2)]
    # equal-label-count sanity: a NULL-label QUERY yields no rows
    out_null = sim.hard_negatives(emb, query_ids=[4], k=3).collect()
    assert out_null == []


def test_embed_prune_cuts_cell_tail(spark):
    """floor(n * frac) least-prototypical members of each cell flag
    pruned: with one tight cluster of 4 around e1 and an outlier
    pointing away, frac=0.25 prunes exactly the outlier; frac too
    small for one row (floor < 1) prunes nothing."""

    from declarative_dataflow_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.98, 0.05]),
            (2, [0.97, 0.08]),
            (3, [0.2, 0.9]),  # least aligned with the cell mean
        ],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in
           sim.embed_prune(emb, k=1, iters=1, frac=0.25).collect()}
    assert len(out) == 4 and all(r["cell"] == 0 for r in out.values())
    assert [i for i, r in out.items() if r["pruned"]] == [3]
    assert out[3]["sim_c"] == min(r["sim_c"] for r in out.values())
    none_pruned = sim.embed_prune(emb, k=1, iters=1, frac=0.2).collect()
    assert all(not r["pruned"] for r in none_pruned)  # floor(4*0.2)=0


@_FUZZ_PROP
@given(
    data=st.lists(
        st.tuples(
            st.lists(
                st.integers(-5, 5), min_size=3, max_size=3
            ),  # vector
            st.one_of(st.none(), st.integers(0, 2)),  # label
        ),
        min_size=2,
        max_size=16,
    )
)
def test_prop_hard_negatives_consistent_with_cosine_topk(spark, data):
    """PROPERTY: hard_negatives == cosine_topk's full ranking filtered
    to valid different-label pairs and re-ranked — the label gate and
    re-rank are the ONLY differences from the already-oracle-verified
    ranking (NULL labels drop on either side, ties keep cosine_topk's
    neighbor order)."""

    from declarative_dataflow_spark.operators import similarity as sim

    rows = [(i, [float(x) for x in v], lab) for i, (v, lab) in
            enumerate(data)]
    emb = spark.createDataFrame(  # explicit schema: labels may be all-NULL
        rows, "vec_id long, embedding array<double>, label int"
    )
    qids = [0, 1]
    n = len(rows)
    full = sim.cosine_topk(emb, qids, k=n).collect()
    labels = {i: lab for i, _, lab in rows}
    k = 3
    want = []
    for q in qids:
        ranked = sorted(
            (r for r in full if r["q"] == q), key=lambda r: r["rank"]
        )
        kept = [
            r for r in ranked
            if labels[q] is not None
            and labels[r["neighbor"]] is not None
            and labels[r["neighbor"]] != labels[q]
        ][:k]
        want.extend(
            (q, r["neighbor"], r["sim"], i + 1)
            for i, r in enumerate(kept)
        )
    got = sorted(
        tuple(r) for r in sim.hard_negatives(emb, qids, k=k).collect()
    )
    assert got == sorted(want)


@_FUZZ_PROP
@given(
    vecs=st.lists(
        st.lists(st.integers(-4, 4), min_size=2, max_size=2),
        min_size=3,
        max_size=14,
    ),
    frac=st.sampled_from([0.2, 0.25, 0.5]),
)
def test_prop_embed_prune_cut_arithmetic(spark, vecs, frac):
    """PROPERTY: embed_prune's assignment equals kmeans_assign (the
    oracle-verified clustering), exactly floor(n_cell * frac) rows
    flag per cell, and the flagged set is the bottom of the
    (coalesce(sim_c, -2.0), vec_id) order — for random low-dim
    corpora including zero vectors (NULL cosine)."""

    import math

    from declarative_dataflow_spark.operators import similarity as sim

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    k = 3
    out = sim.embed_prune(emb, k=k, iters=1, frac=frac).collect()
    assign = {
        r["vec_id"]: r["cell"]
        for r in sim.kmeans_assign(emb, k=k, iters=1).collect()
    }
    assert {r["vec_id"]: r["cell"] for r in out} == assign
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        members.sort(
            key=lambda r: (
                -2.0 if r["sim_c"] is None else r["sim_c"],
                r["vec_id"],
            )
        )
        cut = math.floor(len(members) * frac)
        assert [r["vec_id"] for r in members if r["pruned"]] == [
            r["vec_id"] for r in members[:cut]
        ], f"cell {cell}"


def test_edge_support_and_ktruss_directed(spark):
    """A 4-clique (every edge closes 2 triangles) plus a pendant
    triangle sharing one vertex: supports are exact, zero-support
    edges stay in the report, and t=2 truss peeling keeps exactly the
    clique (the pendant triangle's edges have support 1 and peel in
    round one; the shared vertex does not save them)."""

    from declarative_dataflow_spark.operators import graph as g

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pendant = [(3, 10), (3, 11), (10, 11), (11, 99)]
    edges = spark.createDataFrame(clique + pendant, ["src", "dst"])

    sup = {(r["a"], r["b"]): r["support"]
           for r in g.edge_triangle_support(edges).collect()}
    assert all(sup[e] == 2 for e in clique)
    assert sup[(3, 10)] == 1 and sup[(3, 11)] == 1 and sup[(10, 11)] == 1
    assert sup[(11, 99)] == 0  # kept, not dropped

    truss = sorted(
        (r["a"], r["b"]) for r in g.ktruss(edges, t=2).collect()
    )
    assert truss == sorted(clique)
    # t above the densest support: empty, and it must CONVERGE
    assert g.ktruss(edges, t=3).count() == 0


@_FUZZ_PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=22,
    )
)
def test_prop_edge_support_matches_bruteforce(spark, edges):
    """PROPERTY: edge_triangle_support == |N(a) n N(b)| for every
    canonical undirected edge of random directed multigraphs
    (self-loops and duplicates collapse; zero-support edges present
    with 0)."""

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        tuple(r) for r in g.edge_triangle_support(df).collect()
    )
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = sorted(
        (a, b, len(adj[a] & adj[b]))
        for a in adj
        for b in adj[a]
        if a < b
    )
    assert got == want


@_FUZZ_PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=24,
    )
)
def test_prop_clustering_coef_matches_bruteforce(spark, edges):
    """PROPERTY: clustering_coefficient == the textbook local cc
    (edges among neighbors over deg-choose-2) on random directed
    multigraphs; deg < 2 nodes report cc = 0.0."""

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        tuple(r) for r in g.clustering_coefficient(df).collect()
    )
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = []
    for v, nbrs in adj.items():
        d = len(nbrs)
        t = sum(
            1
            for u in nbrs
            for w in nbrs
            if u < w and w in adj.get(u, set())
        )
        cc = round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0
        want.append((v, d, t, cc))
    assert got == sorted(want)


def _bruteforce_ktruss(edges, t):
    """Textbook iterative peel: recount support on the surviving
    undirected edge set, drop sub-threshold edges, repeat to fixpoint."""

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in und}
        drop = {e for e, s in sup.items() if s < t}
        if not drop:
            return sup
        und -= drop


@_FUZZ_PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=24,
    ),
    t=st.sampled_from([1, 2, 3]),
)
def test_prop_ktruss_matches_bruteforce(spark, edges, t):
    """PROPERTY: ktruss == the textbook iterative recount-and-peel on
    random directed multigraphs — surviving edge set AND the reported
    per-edge supports (which must be the supports WITHIN the surviving
    subgraph, not a stale pre-peel snapshot)."""

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        tuple(r) for r in g.ktruss(df, t=t, max_iters=40).collect()
    )
    want = sorted(
        (a, b, s) for (a, b), s in _bruteforce_ktruss(edges, t).items()
    )
    assert got == want


def test_ktruss_validates_max_iters(spark):
    import pytest

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="max_iters"):
        g.ktruss(df, t=2, max_iters=0)


def test_cdc_chunks_reassembly_and_alignment(spark):
    """Chunks reassemble to the exact lowered text, and the CDC point
    holds: inserting a token at the FRONT of a document leaves every
    chunk strictly after the first post-edit boundary hash-identical
    (content-defined boundaries realign; fixed-width chunks would
    lose all alignment)."""

    from declarative_dataflow_spark.operators import dedup

    base_words = [f"w{i * 37 % 101}" for i in range(160)]
    base = " ".join(base_words)
    edited = "inserted " + base
    docs = spark.createDataFrame(
        [(0, base), (1, edited)], ["doc_id", "text"]
    )
    rows = dedup.cdc_chunks(docs, divisor=8).collect()

    # reassembly: position-ordered chunk texts rebuild the document —
    # verified via token counts summing and hashes matching a direct
    # rechunk of doc 0 against itself.
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sum(r["n_tokens"] for r in by_doc[0]) == len(base_words)
    assert sum(r["n_tokens"] for r in by_doc[1]) == len(base_words) + 1

    h0 = {r["chunk_hash"] for r in by_doc[0]}
    h1 = {r["chunk_hash"] for r in by_doc[1]}
    shared = h0 & h1
    # all but the first (edited) chunk realign: at most 1 unshared
    # chunk hash on the base side
    assert len(h0 - shared) <= 1, f"CDC lost alignment: {len(h0 - shared)}"
    # the shared chunks report n_docs == 2
    assert all(r["n_docs"] == 2 for r in by_doc[0] if r["chunk_hash"] in shared)


def test_cdc_chunks_single_token_and_empty(spark):
    from declarative_dataflow_spark.operators import dedup

    docs = spark.createDataFrame(
        [(0, "lonely"), (1, "")], ["doc_id", "text"]
    )
    rows = dedup.cdc_chunks(docs).collect()
    assert {(r["doc_id"], r["chunk_id"], r["n_tokens"]) for r in rows} == {
        (0, 0, 1), (1, 0, 1)
    }


def test_top_component_finds_dominant_direction(spark):
    """Power iteration on a synthetic anisotropic cloud recovers the
    dominant singular direction: projections correlate ~1 (up to
    sign) with numpy's exact top right-singular vector's."""

    import numpy as np

    from declarative_dataflow_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    direction = np.array([3.0, 1.0, -2.0, 0.5])
    direction /= np.linalg.norm(direction)
    coeff = rng.randn(200, 1) * 10.0          # dominant axis
    noise = rng.randn(200, 4) * 0.1
    x = coeff * direction + noise
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = {r["vec_id"]: r["proj"]
           for r in sim.top_component(emb, iters=3).collect()}
    proj = np.array([got[i] for i in range(len(x))])

    _, _, vt = np.linalg.svd(x, full_matrices=False)
    want = x @ vt[0]
    corr = np.corrcoef(proj, want)[0, 1]
    assert abs(corr) > 0.999, f"corr={corr}"


def test_top_component_validates_and_degrades(spark):
    import pytest

    from declarative_dataflow_spark.operators import similarity as sim

    mixed = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="uniform"):
        sim.top_component(mixed)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.top_component(empty).count() == 0

    # zero-norm corpus: power step degenerates, projection stays the
    # (well-defined) dot with the start vector = 0.0
    zeros = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = {r["vec_id"]: r["proj"] for r in sim.top_component(zeros).collect()}
    assert out == {0: 0.0, 1: 0.0}


def _mmr_bruteforce(vecs, probe, k, depth, lam=0.5):
    """Textbook greedy MMR over round-4 cosines (ties: neighbor asc)."""

    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4) if na * nb else None

    rel = {i: cos(v, vecs[probe]) for i, v in vecs.items() if i != probe}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:depth]
    picked, out = [], []
    for step in range(1, k + 1):
        best = None
        for d in cand:
            if d in picked:
                continue
            sims = [cos(vecs[d], vecs[s]) for s in picked]
            msim = max((s for s in sims if s is not None), default=0.0)
            score = lam * rel[d] - (1 - lam) * msim
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d, score)
        picked.append(best[1])
        out.append((step, best[1], round(best[2], 6)))
    return out


def test_mmr_rerank_matches_bruteforce_and_diversifies(spark):
    """mmr_rerank == textbook greedy MMR on a corpus holding the
    probe's near-duplicate twice — and the redundant second copy is
    NOT picked immediately after the first (the diversity penalty
    visibly reorders pure relevance)."""

    from declarative_dataflow_spark.operators import retrieval

    vecs = {
        0: [1.0, 0.0, 0.0],    # probe
        1: [0.99, 0.01, 0.0],  # near-dup of probe (copy A)
        2: [0.99, 0.011, 0.0],  # near-dup (copy B) — redundant with A
        3: [0.5, 0.5, 0.0],    # diverse, still relevant
        4: [0.0, 0.0, 1.0],    # orthogonal
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    got = sorted(
        (r["step"], r["neighbor"], r["score"])
        for r in retrieval.mmr_rerank(
            emb, query_ids=[0], k=3, depth=4
        ).collect()
    )
    want = _mmr_bruteforce(vecs, probe=0, k=3, depth=4)
    assert [(s, n) for s, n, _ in got] == [(s, n) for s, n, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    # relevance order would be (1, 2, ...); MMR defers the twin copy
    assert [n for _, n, _ in got][:2] != [1, 2]


@_FUZZ_PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=2,
        max_size=20,
    )
)
def test_prop_assortativity_matches_bruteforce(spark, edges):
    """PROPERTY: degree_assortativity == the textbook Pearson over
    endpoint degrees of the symmetrized simple graph (exact integer
    moments, float only at the end) on random directed multigraphs;
    degenerate graphs (zero variance) yield NULL."""

    import math

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame(edges, ["src", "dst"])
    row = g.degree_assortativity(df).collect()[0]

    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
    deg = {v: len(ns) for v, ns in adj.items()}
    pairs = [(deg[a], deg[b]) for a, b in und]
    m = len(pairs)
    assert row["m_edges"] == m
    if m == 0:
        assert row["assortativity"] is None
        return
    sxy = sum(x * y for x, y in pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    syy = sum(y * y for _, y in pairs)
    den = math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    if den == 0:
        assert row["assortativity"] is None
    else:
        want = round((m * sxy - sx * sy) / den, 6)
        assert abs(row["assortativity"] - want) <= 1e-6


def test_cluster_sample_quota_and_determinism(spark):
    """At most quota kept per cell, assignment equals kmeans_assign,
    and two runs pick the IDENTICAL rows (reproducible md5 order)."""

    from declarative_dataflow_spark.operators import similarity as sim

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out1 = {(r["vec_id"], r["cell"], r["kept"])
            for r in sim.cluster_sample(emb, quota=4, k=3, iters=1).collect()}
    out2 = {(r["vec_id"], r["cell"], r["kept"])
            for r in sim.cluster_sample(emb, quota=4, k=3, iters=1).collect()}
    assert out1 == out2 and len(out1) == 60
    per_cell = {}
    for _, cell, kept in out1:
        if kept:
            per_cell[cell] = per_cell.get(cell, 0) + 1
    assert per_cell and all(v <= 4 for v in per_cell.values())
    assign = {(r["vec_id"], r["cell"])
              for r in sim.kmeans_assign(emb, k=3, iters=1).collect()}
    assert {(v, c) for v, c, _ in out1} == assign


def test_ngram_novelty_first_doc_is_fully_novel(spark):
    """The earliest doc is 100% novel; an exact copy later is 0%; a
    half-overlapping doc scores the exact shingle fraction."""

    from declarative_dataflow_spark.operators import curation

    a = "one two three four five six"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, a + " seven eight nine")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in curation.ngram_novelty(docs, n=3).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    # doc 3 has 7 shingles; the 4 from doc 1's text are old, 3 new
    assert out[3]["n_shingles"] == 7 and out[3]["n_novel"] == 3
    assert out[3]["novelty"] == round(3 / 7, 4)


@_FUZZ_PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=2,
        max_size=20,
    )
)
def test_prop_node_similarity_matches_bruteforce(spark, edges):
    """PROPERTY (uncapped): node_similarity == textbook neighborhood
    Jaccard top-k with (jac desc, other asc) ties, candidates = pairs
    sharing >= 1 neighbor."""

    from declarative_dataflow_spark.operators import graph as g

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        tuple(r)
        for r in g.node_similarity(
            df, top_k=3, max_center_degree=None
        ).collect()
    )
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = []
    for u in adj:
        cands = []
        for w in adj:
            if w == u:
                continue
            inter = len(adj[u] & adj[w])
            if inter == 0:
                continue
            jac = round(inter / (len(adj[u]) + len(adj[w]) - inter), 6)
            cands.append((-jac, w, inter, jac))
        cands.sort()
        for rk, (_, w, inter, jac) in enumerate(cands[:3], 1):
            want.append((u, w, inter, jac, rk))
    assert got == sorted(want)


def test_mmr_step1_is_pure_relevance_even_at_lambda_zero(spark):
    """λ=0 (pure diversity) must still pick the MOST RELEVANT doc at
    step 1 (the selected set is empty — there is nothing to be diverse
    from); before the fix every step-1 score was λ·rel = 0 and the
    argmax degenerated to the lowest neighbor id."""

    from declarative_dataflow_spark.operators import retrieval

    vecs = {
        0: [1.0, 0.0, 0.0],     # probe
        5: [0.99, 0.01, 0.0],   # most relevant — HIGH id on purpose
        1: [0.5, 0.5, 0.0],     # lower rel, LOWEST id among candidates
        2: [0.0, 1.0, 0.0],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    got = {
        r["step"]: r["neighbor"]
        for r in retrieval.mmr_rerank(
            emb, query_ids=[0], k=2, depth=3, lam=0.0
        ).collect()
    }
    assert got[1] == 5, f"step 1 must be the relevance argmax, got {got}"


# ---------------------------------------------------------------------------
# r11: hits / personalized_pagerank / knn_graph / readability / langid_eval /
#      reshape / grouping sets
# ---------------------------------------------------------------------------

from declarative_dataflow_spark.operators import graph  # noqa: E402


def test_hits_matches_bruteforce_power_iteration(spark):
    """hits == the textbook mutual-reinforcement loop (exact Fractions,
    max-normalized, rounded HALF_UP to 6 each half-step) on a small
    directed graph with a clear hub and authority."""

    from fractions import Fraction

    edges = [(1, 10), (2, 10), (3, 10), (1, 20), (9, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in graph.hits(df, iters=2).collect()
    }

    def r6(x: Fraction) -> Fraction:
        scaled = x * 10**6
        fl = scaled.numerator // scaled.denominator
        rem = scaled - fl
        return Fraction(fl + (1 if rem >= Fraction(1, 2) else 0), 10**6)

    e = {(a, b) for a, b in edges if a != b}
    nodes = {a for a, _ in e} | {b for _, b in e}
    h = {n: Fraction(1) for n in nodes}
    a = {}
    for _ in range(2):
        raw = {n: sum((h[u] for u, v in e if v == n), Fraction(0)) for n in nodes}
        mx = max(v for v in raw.values() if v > 0)
        a = {n: r6(raw[n] / mx) for n in nodes}
        raw_h = {n: sum((a[v] for u, v in e if u == n), Fraction(0)) for n in nodes}
        mxh = max(v for v in raw_h.values() if v > 0)
        h = {n: r6(raw_h[n] / mxh) for n in nodes}
    assert set(got) == nodes
    for n in nodes:
        assert abs(got[n][0] - float(h[n])) < 1e-9, (n, got[n], h[n])
        assert abs(got[n][1] - float(a[n])) < 1e-9, (n, got[n], a[n])
    # node 10 is THE authority; nodes 1 is the best hub (points at both)
    assert got[10][1] == 1.0 and got[1][0] == 1.0


def test_personalized_pagerank_localizes_to_seeds(spark):
    """PPR mass concentrates near the seed set: the seed and its
    out-neighborhood outrank a node the same hops from the graph's
    center but unreachable from the seeds; unreachable nodes score
    exactly 0; and an empty seed list raises."""

    import pytest as _pytest

    # two disjoint stars: seeds live in component A
    edges = [(0, 1), (1, 2), (2, 0), (50, 51), (51, 52), (52, 50)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in graph.personalized_pagerank(
            df, seeds=[0], iters=6
        ).collect()
    }
    assert got[0] > got[1] > 0
    for n in (50, 51, 52):
        assert got[n] == 0.0, (n, got[n])
    with _pytest.raises(ValueError, match="seeds"):
        graph.personalized_pagerank(df, seeds=[])


def test_knn_graph_mutual_edges_match_bruteforce(spark):
    """With k covering the whole corpus (one cell), the mutual k-NN
    graph equals the brute-force reciprocal top-k in exact cosine."""

    import itertools
    import math

    vecs = {
        0: [1.0, 0.0], 1: [0.9, 0.1], 2: [0.0, 1.0],
        3: [0.1, 0.9], 4: [0.7, 0.7], 5: [-1.0, 0.2],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    got = sorted(
        (r["a"], r["b"]) for r in similarity.knn_graph(
            emb, k_neighbors=2, k=1, iters=0
        ).collect()
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4)

    topk = {}
    for i in vecs:
        scored = sorted(
            ((cos(vecs[i], vecs[j]), -j) for j in vecs if j != i),
            reverse=True,
        )[:2]
        topk[i] = {-nj for _, nj in scored}
    want = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if b in topk[a] and a in topk[b]
    )
    assert got == want and got, got


def test_readability_hand_counts(spark):
    """Hand-checked counts: words, sentence runs ([.!?]+ counts once
    per run), vowel groups; empty text yields NULL flesch."""

    df = spark.createDataFrame(
        [
            (1, "The cat sat. It purred!"),
            (2, ""),
            (3, "Wow... really?!"),
        ],
        ["doc_id", "text"],
    )
    from declarative_dataflow_spark.operators import text as _text

    got = {r["doc_id"]: r.asDict() for r in _text.readability(df).collect()}
    # doc 1: 5 words, 2 sentence runs, vowel groups: e,a,a,i,u,e = 6
    assert (got[1]["n_words"], got[1]["n_sents"], got[1]["n_syll"]) == (5, 2, 6)
    want = round(206.835 - 1.015 * (5 / 2) - 84.6 * (6 / 5), 4)
    assert abs(got[1]["flesch"] - want) < 1e-9
    assert got[2]["n_words"] == 0 and got[2]["flesch"] is None
    # doc 3: runs '...' and '?!' -> 2 sentence runs, 2 words
    assert (got[3]["n_words"], got[3]["n_sents"]) == (2, 2)


def test_langid_eval_confusion_rows_normalize(spark):
    """Each true language's rates sum to 1; the English row's diagonal
    dominates on marker-heavy text."""

    from declarative_dataflow_spark.operators import text as _text

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here", "en"),
            (2, "the fish and the bird", "en"),
            (3, "el la los y de", "es"),
            (4, "zzz qqq", "en"),  # no markers -> 'und'
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        (r["true_lang"], r["pred_lang"]): (r["n"], r["rate"])
        for r in _text.langid_eval(df).collect()
    }
    assert got[("en", "en")] == (2, round(2 / 3, 6))
    assert got[("en", "und")] == (1, round(1 / 3, 6))
    assert got[("es", "es")] == (1, 1.0)


def test_pivot_counts_and_unpivot_roundtrip(spark):
    """pivot_counts matches hand counts (absent values count 0, values
    outside the pinned list are ignored); unpivot_metrics emits one
    row per (row, metric) with exact values; n=0 inputs raise."""

    import pytest as _pytest

    from declarative_dataflow_spark.operators import reshape

    ev = spark.createDataFrame(
        [(1, "click"), (1, "click"), (1, "view"), (2, "error"), (2, "other")],
        ["user_id", "event_type"],
    )
    got = {
        r["user_id"]: (r["n_click"], r["n_view"], r["n_error"])
        for r in reshape.pivot_counts(
            ev, "user_id", "event_type", ["click", "view", "error"]
        ).collect()
    }
    assert got[1] == (2, 1, 0) and got[2] == (0, 0, 1)
    with _pytest.raises(ValueError, match="values"):
        reshape.pivot_counts(ev, "user_id", "event_type", [])

    wide = spark.createDataFrame(
        [(1, 1, 2.0, 30.5), (2, 1, 4.0, 0.25)],
        ["k1", "k2", "m_a", "m_b"],
    )
    long = sorted(
        (r["k1"], r["metric"], r["val"])
        for r in reshape.unpivot_metrics(
            wide, ["k1", "k2"], ["m_a", "m_b"]
        ).collect()
    )
    assert long == [
        (1, "m_a", 2.0), (1, "m_b", 30.5), (2, "m_a", 4.0), (2, "m_b", 0.25),
    ]
    with _pytest.raises(ValueError, match="metric_cols"):
        reshape.unpivot_metrics(wide, ["k1"], [])


def test_group_hist_quantiles_matches_global_per_group(spark):
    """Per-group quantiles == hist_quantiles run on each group's rows
    alone (the global machinery is the oracle)."""

    from declarative_dataflow_spark.operators import sketch

    rows = [("a", v) for v in (1, 2, 3, 100, 5000)] + [
        ("b", v) for v in (7, 7, 9)
    ]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {
        (r["source"], r["q"]): (r["bucket"], r["lb"], r["ub"], r["rk"], r["n"])
        for r in sketch.group_hist_quantiles(df).collect()
    }
    for src in ("a", "b"):
        solo = {
            r["q"]: (r["bucket"], r["lb"], r["ub"], r["rk"], r["n"])
            for r in sketch.hist_quantiles(
                df.filter(df.source == src)
            ).collect()
        }
        for q, want in solo.items():
            assert got[(src, q)] == want, (src, q, got[(src, q)], want)


def test_label_noise_flags_planted_mislabels(spark):
    """A corpus of two tight clusters with one vector labeled into the
    WRONG cluster: only that vector flags mismatch (k=1 cell keeps
    everything comparable; directed top-k over the numpy pair
    kernel)."""

    rows = []
    for i in range(6):
        rows.append((i, [1.0 + i * 1e-3, 0.0], 0))
    for i in range(6, 12):
        rows.append((i, [0.0, 1.0 + i * 1e-3], 1))
    rows.append((12, [1.0, 1e-4], 1))  # geometrically cluster 0, labeled 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        r["vec_id"]: (r["label"], r["maj_label"], r["mismatch"])
        for r in similarity.label_noise(
            emb, k_neighbors=3, k=1, iters=0
        ).collect()
    }
    assert got[12] == (1, 0, True)
    assert sum(1 for v in got.values() if v[2]) == 1, got
