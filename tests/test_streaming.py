"""Structured Streaming: stateful LWW, windowed aggregation with
watermark, diff-emitting sink. File-based micro-batch tests."""

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from declarative_dataflow_spark.streaming.diff_sink import DiffSink
from declarative_dataflow_spark.streaming.lww import stream_last_write_wins
from declarative_dataflow_spark.streaming.windows import (
    coarsen,
    session_agg,
    sliding_agg,
    tumbling_agg,
)


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_lww_late_arrival(spark, tmp_path):
    """Out-of-order write with older t does not displace newer state
    (reference: last_write_wins.rs + input_semantics.rs:272-297)."""

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"e": 1, "v": "new", "t": 10},
        {"e": 2, "v": "x", "t": 1},
    ])

    stream = (
        spark.readStream.schema("e long, v string, t long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = stream_last_write_wins(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("lww_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # late arrival for e=1, new write for e=2
        _write_jsonl(str(src / "b2.json"), [
            {"e": 1, "v": "late", "t": 5},
            {"e": 2, "v": "y", "t": 2},
        ])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT e, v FROM lww_test ORDER BY e"
        ).collect()
        # last update row per entity reflects final state
        final = {}
        for r in spark.table("lww_test").collect():
            final[r["e"]] = r["v"]  # later rows overwrite in arrival order
        assert final[1] == "new"  # late arrival rejected
        assert final[2] == "y"
    finally:
        q.stop()


def test_tumbling_agg_watermark(spark, tmp_path):
    src = tmp_path / "win_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"k": "a", "ts": "2024-01-01 00:00:05", "value": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:15", "value": 2.0},
        {"k": "b", "ts": "2024-01-01 00:00:07", "value": 5.0},
    ])
    stream = (
        spark.readStream.schema("k string, ts timestamp, value double")
        .json(str(src))
    )
    agg = tumbling_agg(
        stream,
        "ts",
        "10 seconds",
        "30 seconds",
        ["k"],
        {"n": "count(*)", "total": "sum(value)"},
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["k"], str(r["window_start"])): (r["n"], r["total"])
            for r in spark.table("win_test").collect()
        }
        assert rows[("a", "2024-01-01 00:00:00")] == (1, 1.0)
        assert rows[("a", "2024-01-01 00:00:10")] == (1, 2.0)
        assert rows[("b", "2024-01-01 00:00:00")] == (1, 5.0)
    finally:
        q.stop()


def test_diff_sink_emits_retractions(spark, tmp_path):
    """foreachBatch diff emission: adds as +1, removals as -1
    (the reference's ResultDiff output contract)."""

    src = tmp_path / "diff_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [{"k": "a"}, {"k": "a"}, {"k": "b"}])

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = stream.groupBy("k").count()
    sink = DiffSink()
    q = (
        counts.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "diff_ckpt"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_jsonl(str(src / "b2.json"), [{"k": "a"}])
        q.processAllAvailable()
    finally:
        q.stop()

    # epoch 0: all additions; epoch 1: a's count 2 -> 3 (one add, one retract)
    assert len(sink.history) >= 2
    first = {(r["k"], r["count"]): r["diff"] for r in sink.history[0][1]}
    assert first[("a", 2)] == 1 and first[("b", 1)] == 1
    last_epoch_rows = sink.history[-1][1]
    changes = {(r["k"], r["count"]): r["diff"] for r in last_epoch_rows}
    assert changes[("a", 3)] == 1
    assert changes[("a", 2)] == -1
    assert ("b", 1) not in changes  # unchanged tuples emit nothing


def test_coarsen_batch(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:04",), ("2024-01-01 00:00:11",)], ["ts"]
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts")
    out = {str(r["ts"]): str(r["coarsened"]) for r in coarsen(df, "ts", "10 seconds").collect()}
    assert out["2024-01-01 00:00:04"] == "2024-01-01 00:00:10"
    assert out["2024-01-01 00:00:11"] == "2024-01-01 00:00:20"


def test_stream_lww_rocksdb_state(spark, tmp_path):
    """Same stateful LWW under the RocksDB state store provider — the
    large-state scale path (state on local disk, not executor heap)."""

    from declarative_dataflow_spark.session import (
        ROCKSDB_PROVIDER,
        use_rocksdb_state,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    use_rocksdb_state(spark)
    try:
        src = tmp_path / "in"
        src.mkdir()
        _write_jsonl(str(src / "b1.json"), [
            {"e": 1, "v": "a", "t": 1},
            {"e": 1, "v": "b", "t": 2},
        ])
        stream = (
            spark.readStream.schema("e long, v string, t long")
            .json(str(src))
        )
        out = stream_last_write_wins(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("lww_rocks")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert (
                spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER
            )
            final = {r["e"]: r["v"] for r in spark.table("lww_rocks").collect()}
            assert final == {1: "b"}
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_sliding_agg_overlapping_panes(spark, tmp_path):
    src = tmp_path / "slide_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"k": "a", "ts": "2024-01-01 00:00:05", "value": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:12", "value": 2.0},
    ])
    stream = (
        spark.readStream.schema("k string, ts timestamp, value double")
        .json(str(src))
    )
    agg = sliding_agg(
        stream, "ts", "20 seconds", "10 seconds", "30 seconds",
        ["k"], {"n": "count(*)"},
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            str(r["window_start"]): r["n"]
            for r in spark.table("slide_test").collect()
        }
        # ts=5 lands in panes [-10,10) and [0,20); ts=12 in [0,20) and [10,30)
        assert rows["2023-12-31 23:59:50"] == 1
        assert rows["2024-01-01 00:00:00"] == 2
        assert rows["2024-01-01 00:00:10"] == 1
    finally:
        q.stop()


def test_session_agg_gap_merge(spark, tmp_path):
    src = tmp_path / "sess_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"k": "a", "ts": "2024-01-01 00:00:00", "value": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:08", "value": 2.0},   # merges (gap 10s)
        {"k": "a", "ts": "2024-01-01 00:01:00", "value": 3.0},   # new session
    ])
    stream = (
        spark.readStream.schema("k string, ts timestamp, value double")
        .json(str(src))
    )
    agg = session_agg(
        stream, "ts", "10 seconds", "30 seconds", ["k"],
        {"n": "count(*)", "total": "sum(value)"},
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = sorted(
            (str(r["window_start"]), r["n"], r["total"])
            for r in spark.table("sess_test").collect()
        )
        assert rows == [
            ("2024-01-01 00:00:00", 2, 3.0),
            ("2024-01-01 00:01:00", 1, 3.0),
        ]
    finally:
        q.stop()


def test_stream_curation_pipeline(spark, tmp_path):
    """Streaming curation: map-only quality/lang/PII stage + exact
    first-occurrence dedup over a file stream."""

    from declarative_dataflow_spark.streaming.curation import (
        stream_curate,
        stream_exact_dedup,
    )

    src = tmp_path / "cur_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 1, "text": "the quick brown fox is on the hill for now"},
        {"doc_id": 2, "text": "the quick brown fox is on the hill for now"},  # dup
        {"doc_id": 3, "text": "spam spam spam spam spam spam"},  # repetitive
        {"doc_id": 4, "text": "mail me at bob@example.com about the fox and the dog today"},
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    curated = stream_exact_dedup(stream_curate(stream))
    q = (
        curated.writeStream.format("memory")
        .queryName("cur_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows_ = {r["doc_id"]: r for r in spark.table("cur_test").collect()}
        assert 3 not in rows_  # repetitive doc filtered
        assert len({1, 2} & set(rows_)) == 1  # exact dup collapsed
        assert 4 in rows_ and "<EMAIL>" in rows_[4]["text"]  # scrubbed
    finally:
        q.stop()


def test_stream_near_dedup_cross_batch(spark, tmp_path):
    """Streaming MinHash-LSH near-dedup: in-batch near-dups collapse to
    the lowest doc_id; a later batch's near-dup of an ACCEPTED doc is
    suppressed by the signature state; novel docs pass."""

    from declarative_dataflow_spark.streaming.curation import StreamNearDedup

    nd = StreamNearDedup(
        spark, str(tmp_path / "nd_state"), k=16, bands=4, n=3, threshold=0.5
    )
    base = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # in-batch exact dup -> dropped (greedy, lower id wins)
            (3, "completely different words entirely unrelated text body here"),
        ],
        ["doc_id", "text"],
    )
    kept1 = {r["doc_id"] for r in nd.process_batch(b1).collect()}
    assert kept1 == {1, 3}

    b2 = spark.createDataFrame(
        [
            (4, base),  # near-dup of accepted doc 1 -> dropped by state
            (5, "novel second epoch document with its own fresh content words"),
        ],
        ["doc_id", "text"],
    )
    kept2 = {r["doc_id"] for r in nd.process_batch(b2).collect()}
    assert kept2 == {5}
    # state holds exactly the accepted signatures (fixed k longs/doc)
    state = spark.read.parquet(str(tmp_path / "nd_state"))
    assert {r["doc_id"] for r in state.collect()} == {1, 3, 5}
    assert all(len(r["sig"]) == 16 for r in state.collect())


def test_stream_near_dedup_foreachbatch(spark, tmp_path):
    """The foreachBatch wiring dedups a file stream across micro-batches."""

    from declarative_dataflow_spark.streaming.curation import StreamNearDedup

    src = tmp_path / "nd_in"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again today"
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "some other words making a distinct document body"},
    ])
    _write_jsonl(str(src / "b2.json"), [
        {"doc_id": 3, "text": base},  # near-dup of doc 1 across batches
        {"doc_id": 4, "text": "fresh content in the second file of the stream"},
    ])
    nd = StreamNearDedup(
        spark, str(tmp_path / "nd2_state"), k=16, bands=4, n=3, threshold=0.5
    )
    out: list[int] = []
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = nd.attach(
        stream,
        sink=lambda df, epoch: out.extend(r["doc_id"] for r in df.collect()),
        checkpoint=str(tmp_path / "nd2_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert 4 in out and (1 in out or 3 in out)
    assert not (1 in out and 3 in out)  # cross-batch near-dup suppressed
    assert 2 in out


def test_stream_semdedup_cross_batch(spark, tmp_path):
    """Streaming SemDeDup with a frozen centroid index: in-batch
    semantic near-dups collapse to the lowest id; a later batch's
    near-dup of an ACCEPTED embedding is suppressed by the state;
    distinct-direction vectors pass. Epoch-keyed state is idempotent
    under a retried micro-batch."""

    from declarative_dataflow_spark.operators import similarity
    from declarative_dataflow_spark.streaming.curation import StreamSemDeDup

    def jitter(base, eps):
        return [x + eps for x in base]

    b1_vec = [1.0, 0.0, 0.0, 0.0]
    b2_vec = [0.0, 1.0, 0.0, 0.0]
    bootstrap = spark.createDataFrame(
        [
            (0, b1_vec),
            (1, b2_vec),
            (2, [0.0, 0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.ivf_centroids(bootstrap, 4, iters=0)
    sd = StreamSemDeDup(
        spark, str(tmp_path / "sd_state"), cents, threshold=0.999
    )

    e1 = spark.createDataFrame(
        [
            (10, jitter(b1_vec, 0.001)),
            (11, jitter(b1_vec, 0.002)),  # in-batch near-dup -> dropped
            (12, [0.0, 0.0, 1.0, 0.0]),   # own direction -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    kept1 = {r["vec_id"] for r in sd.process_batch(e1, epoch=0).collect()}
    assert kept1 == {10, 12}

    e2 = spark.createDataFrame(
        [
            (20, jitter(b1_vec, 0.003)),  # near-dup of ACCEPTED 10 -> dropped
            (21, jitter(b2_vec, 0.001)),  # fresh direction -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    kept2 = {r["vec_id"] for r in sd.process_batch(e2, epoch=1).collect()}
    assert kept2 == {21}

    # retried epoch replaces its own state contribution (no dup rows,
    # and the batch is NOT suppressed by its own prior write)
    kept2_retry = {
        r["vec_id"] for r in sd.process_batch(e2, epoch=1).collect()
    }
    assert kept2_retry == {21}
    state = spark.read.parquet(str(tmp_path / "sd_state"))
    assert sorted(r["id"] for r in state.collect()) == [10, 12, 21]


def test_stream_compare_and_swap(spark, tmp_path):
    """Streaming CAS register: expect-absent set, failed swap, matching
    swap, and delete across micro-batches (the reference's commented
    CAS design, tests/input_semantics.rs:299-333)."""

    from declarative_dataflow_spark.streaming.cas import (
        stream_compare_and_swap,
    )

    import os

    src = tmp_path / "cas_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"e": 100, "old": None, "new": 1, "t": 1},
        {"e": 100, "old": None, "new": 8, "t": 2},   # fails (present)
        {"e": 200, "old": 5, "new": 9, "t": 1},      # fails (absent)
    ])
    _write_jsonl(str(src / "b2.json"), [
        {"e": 100, "old": 1, "new": 2, "t": 3},      # 1 -> 2
        {"e": 200, "old": None, "new": 4, "t": 2},   # absent -> 4
    ])
    _write_jsonl(str(src / "b3.json"), [
        {"e": 100, "old": 2, "new": None, "t": 4},   # delete
    ])
    # The file source orders batches by modification time; equal mtimes
    # make pickup order arbitrary, so pin them explicitly.
    for i, name in enumerate(("b1.json", "b2.json", "b3.json")):
        os.utime(str(src / name), (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema("e long, old long, new long, t long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream_compare_and_swap(stream)
        .writeStream.format("memory")
        .queryName("cas_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cas_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        hist = spark.table("cas_test").collect()
    finally:
        q.stop()
    latest = {}
    for r in sorted(hist, key=lambda r: r["t"]):
        latest[r["e"]] = (r["v"], r["present"])
    assert latest[100] == (None, False)  # deleted at the end
    assert latest[200] == (4, True)
    # Mid-stream state was correct too: e=100 held 2 before deletion.
    e100 = [
        (r["v"], r["present"]) for r in sorted(hist, key=lambda r: r["t"])
        if r["e"] == 100
    ]
    assert (2, True) in e100 and e100[0] == (1, True)


def test_stream_near_dedup_retry_idempotent(spark, tmp_path):
    """A retried micro-batch (same epoch id) overwrites its own state
    contribution instead of appending a duplicate."""

    from declarative_dataflow_spark.streaming.curation import StreamNearDedup

    nd = StreamNearDedup(
        spark, str(tmp_path / "ndr_state"), k=16, bands=4, n=3, threshold=0.5
    )
    b = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again today")],
        ["doc_id", "text"],
    )
    kept_first = {r["doc_id"] for r in nd.process_batch(b, epoch=0).collect()}
    # Retry of epoch 0: the epoch's own prior contribution is excluded
    # from the dedup check, so the retried batch re-emits the same doc
    # and REPLACES (not duplicates) its state directory.
    kept_retry = {r["doc_id"] for r in nd.process_batch(b, epoch=0).collect()}
    state = spark.read.parquet(str(tmp_path / "ndr_state"))
    assert kept_first == {1} and kept_retry == {1}
    assert state.count() == 1
    # The next epoch DOES dedup against epoch 0's state.
    b2 = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog again today")],
        ["doc_id", "text"],
    )
    kept2 = {r["doc_id"] for r in nd.process_batch(b2, epoch=1).collect()}
    assert kept2 == set()


def test_stream_curation_with_decontamination(spark, tmp_path):
    """Corpus-level curation ops compose inside foreachBatch: each
    micro-batch is a static frame there, so contamination (broadcast
    eval-set n-grams) and near-dedup chain per batch — the full
    streaming curation stage."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.curation import StreamNearDedup

    eval_docs = spark.createDataFrame(
        [(9001, "the held out benchmark question answer pair text")],
        ["doc_id", "text"],
    )
    nd = StreamNearDedup(
        spark, str(tmp_path / "cur_nd_state"), k=16, bands=4, n=3, threshold=0.5
    )
    kept_ids: list[int] = []

    def stage(batch, epoch):
        deduped = nd.process_batch(batch, epoch=epoch)
        cont = curation.contamination(deduped, eval_docs, n=3)
        clean = deduped.join(
            cont.filter("contamination >= 0.5").select("doc_id"),
            "doc_id",
            "left_anti",
        )
        kept_ids.extend(r["doc_id"] for r in clean.collect())

    src = tmp_path / "cur_nd_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 1, "text": "the held out benchmark question answer pair text"},  # contaminated
        {"doc_id": 2, "text": "a perfectly novel training document with fresh words"},
        {"doc_id": 3, "text": "a perfectly novel training document with fresh words"},  # near-dup of 2
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(stage)
        .option("checkpointLocation", str(tmp_path / "cur_nd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert kept_ids == [2]


def test_stream_near_dedup_survives_restart(spark, tmp_path):
    """Stop the query, add data, restart with the same checkpoint and
    state dir: docs near-duplicating pre-restart acceptances are still
    suppressed (state lives on storage, not in the query)."""

    import os as _os

    from declarative_dataflow_spark.streaming.curation import StreamNearDedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    src = tmp_path / "ndrs_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [{"doc_id": 1, "text": base}])
    _os.utime(str(src / "b1.json"), (1_700_000_000, 1_700_000_000))

    nd = StreamNearDedup(
        spark, str(tmp_path / "ndrs_state"), k=16, bands=4, n=3, threshold=0.5
    )
    out: list[int] = []

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        return nd.attach(
            stream,
            sink=lambda df, epoch: out.extend(r["doc_id"] for r in df.collect()),
            checkpoint=str(tmp_path / "ndrs_ckpt"),
            query_name="ndrs",
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert out == [1]

    _write_jsonl(str(src / "b2.json"), [
        {"doc_id": 2, "text": base},                       # dup of pre-restart doc
        {"doc_id": 3, "text": "completely fresh words in a brand new document"},
    ])
    _os.utime(str(src / "b2.json"), (1_700_000_001, 1_700_000_001))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(out) == [1, 3]


def test_incremental_dup_ngram_tracks_batch(spark, tmp_path):
    """Differential corpus statistic: per-epoch output covers exactly
    the changed docs; accumulated state equals the batch operator over
    everything ingested (including OLD docs whose n-grams became
    duplicated by later arrivals)."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalDupNgram,
    )

    inc = IncrementalDupNgram(spark, str(tmp_path / "dng_state"), n=3)
    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: r["dup_frac"] for r in inc.process_batch(b1).collect()}
    assert out1 == {1: 0.0, 2: 0.0}

    # Doc 3 repeats doc 1's 3-grams -> doc 1's frac must UPDATE.
    b2 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon"),
         (4, "lambda mu nu xi omicron")],
        ["doc_id", "text"],
    )
    out2 = {r["doc_id"]: r["dup_frac"] for r in inc.process_batch(b2).collect()}
    # epoch 2 emits: batch docs 3 and 4, plus AFFECTED old doc 1 —
    # and NOT untouched doc 2.
    assert set(out2) == {1, 3, 4}
    assert out2[1] == 1.0 and out2[3] == 1.0 and out2[4] == 0.0

    # Accumulated state equals the batch operator over the full corpus.
    full = b1.unionByName(b2)
    expect = {
        (r["doc_id"], r["n_ngrams"], r["n_dup"], r["dup_frac"])
        for r in curation.dup_ngram_frac(full, n=3).collect()
    }
    got = {
        (r["doc_id"], r["n_ngrams"], r["n_dup"], r["dup_frac"])
        for r in inc.current().collect()
    }
    assert got == expect


def test_incremental_dup_ngram_random_epochs(spark, tmp_path):
    """Randomized epochs: after every batch, maintained state equals
    the batch operator over everything ingested so far."""

    import random

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalDupNgram,
    )

    rng = random.Random(5)
    words = ["red", "blue", "green", "gold", "gray", "pink"]
    inc = IncrementalDupNgram(spark, str(tmp_path / "dngr_state"), n=2)
    seen = []
    next_id = 0
    for _epoch in range(3):
        rows = []
        for _ in range(rng.randint(1, 3)):
            text = " ".join(rng.choice(words) for _ in range(rng.randint(2, 5)))
            rows.append((next_id, text))
            next_id += 1
        seen.extend(rows)
        batch = spark.createDataFrame(rows, ["doc_id", "text"])
        inc.process_batch(batch)
        full = spark.createDataFrame(seen, ["doc_id", "text"])
        expect = {
            tuple(r) for r in curation.dup_ngram_frac(full, n=2).collect()
        }
        got = {tuple(r) for r in inc.current().collect()}
        assert got == expect, (seen,)


def test_incremental_vocab_matches_batch(spark, tmp_path):
    from declarative_dataflow_spark.operators import text as text_ops
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalVocab,
    )

    iv = IncrementalVocab(spark, str(tmp_path / "vocab_state"))
    b1 = spark.createDataFrame([(1, "aa bb aa"), (2, "cc bb")], ["doc_id", "text"])
    b2 = spark.createDataFrame([(3, "aa dd 7")], ["doc_id", "text"])
    iv.process_batch(b1)
    iv.process_batch(b2)
    full = b1.unionByName(b2)
    expect = {tuple(r) for r in text_ops.vocab_topk(full, k=3).collect()}
    got = {tuple(r) for r in iv.topk(k=3).collect()}
    assert got == expect


def test_incremental_contamination_retroactive(spark, tmp_path):
    """A benchmark added AFTER ingestion re-scores exactly the affected
    old docs; accumulated state equals the batch operator on the full
    (docs, eval) state at every step."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalContamination,
    )

    ic = IncrementalContamination(spark, str(tmp_path / "cont_state"), n=3)
    docs1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["contamination"] for r in ic.add_docs(docs1).collect()}
    assert out == {1: 0.0, 2: 0.0}  # no eval set yet

    # New benchmark overlapping doc 1 only: exactly doc 1 re-scores.
    ev1 = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    upd = {r["doc_id"]: r["contamination"] for r in ic.add_eval(ev1).collect()}
    assert upd == {1: 1.0}

    # Later docs score against the accumulated eval set immediately.
    docs2 = spark.createDataFrame(
        [(3, "alpha beta gamma nu xi"), (4, "rho sigma tau upsilon phi")],
        ["doc_id", "text"],
    )
    out2 = {r["doc_id"]: r["contamination"] for r in ic.add_docs(docs2).collect()}
    assert out2[3] > 0.0 and out2[4] == 0.0

    # Full-state equivalence with the batch operator.
    all_docs = docs1.unionByName(docs2)
    expect = {
        tuple(r) for r in curation.contamination(all_docs, ev1, n=3).collect()
    }
    got = {tuple(r) for r in ic.current().collect()}
    assert got == expect


def test_incremental_dup_ngram_compaction(spark, tmp_path):
    """Crossing the compaction boundary folds count increments into one
    generation without changing any answer."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalDupNgram,
    )

    inc = IncrementalDupNgram(spark, str(tmp_path / "cmp_state"), n=2)
    inc.compact_every = 2
    batches = [
        [(1, "red blue green")],
        [(2, "red blue yellow")],   # compaction fires after this epoch
        [(3, "red blue green")],
    ]
    seen = []
    for rows in batches:
        seen.extend(rows)
        inc.process_batch(spark.createDataFrame(rows, ["doc_id", "text"]))
    full = spark.createDataFrame(seen, ["doc_id", "text"])
    expect = {tuple(r) for r in curation.dup_ngram_frac(full, n=2).collect()}
    got = {tuple(r) for r in inc.current().collect()}
    assert got == expect


def test_incremental_dup_ngram_retry_idempotent(spark, tmp_path):
    """Reprocessing the same epoch id replaces its state contribution;
    counts do not double."""

    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalDupNgram,
    )

    inc = IncrementalDupNgram(spark, str(tmp_path / "ri_state"), n=2)
    b = spark.createDataFrame([(1, "red blue green")], ["doc_id", "text"])
    inc.process_batch(b, epoch=0)
    inc.process_batch(b, epoch=0)  # retry
    got = {r["doc_id"]: r["n_ngrams"] for r in inc.current().collect()}
    assert got == {1: 2}
    counts = inc._read_counts().collect()
    assert all(r["n"] == 1 for r in counts)  # not doubled


def test_incremental_dup_ngram_epoch_mode_across_compaction(spark, tmp_path):
    """Epoch-keyed state writes survive the compaction boundary: the
    folded generation keeps the partitioned layout (base in epoch=-1),
    so post-compaction epochs cannot make Spark's partition discovery
    silently drop the pre-compaction data; and a RETRY of an epoch
    already folded into the base is dropped, not double-counted."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalDupNgram,
    )

    inc = IncrementalDupNgram(spark, str(tmp_path / "emc_state"), n=2)
    inc.compact_every = 2
    batches = {
        0: [(1, "red blue green")],
        1: [(2, "red blue yellow")],   # compaction fires after this epoch
        2: [(3, "red blue green")],    # post-compaction epoch
    }
    seen = []
    for epoch, rows in batches.items():
        seen.extend(rows)
        inc.process_batch(
            spark.createDataFrame(rows, ["doc_id", "text"]), epoch=epoch
        )
    # "red blue" occurs in all 3 docs: the pre-compaction contributions
    # must still be visible after epoch 2's partitioned append.
    counts = {r["shingle"]: r["n"] for r in inc._read_counts().collect()}
    assert counts["red_blue"] == 3, counts
    full = spark.createDataFrame(seen, ["doc_id", "text"])
    expect = {tuple(r) for r in curation.dup_ngram_frac(full, n=2).collect()}
    assert {tuple(r) for r in inc.current().collect()} == expect

    # Retry of a PRE-compaction epoch after its dir was folded into the
    # base: must be a no-op (its contribution already lives in epoch=-1).
    inc.process_batch(
        spark.createDataFrame(batches[0], ["doc_id", "text"]), epoch=0
    )
    counts2 = {r["shingle"]: r["n"] for r in inc._read_counts().collect()}
    assert counts2 == counts, counts2
    # Retry of a POST-compaction epoch still replaces (not doubles).
    inc.process_batch(
        spark.createDataFrame(batches[2], ["doc_id", "text"]), epoch=2
    )
    counts3 = {r["shingle"]: r["n"] for r in inc._read_counts().collect()}
    assert counts3 == counts, counts3
    assert {tuple(r) for r in inc.current().collect()} == expect


def test_cas_fold_arrival_order_across_chunks():
    """Equal-t CAS ops spanning pandas chunk boundaries fold in ARRIVAL
    order: the sequence counter must run across all chunks the iterator
    yields, not reset per chunk (a reset would order chunk 2's op
    before chunk 1's later rows at the same t)."""

    import pandas as pd

    from declarative_dataflow_spark.streaming.cas import _cas_fold

    class FakeState:
        exists = False

        def update(self, value):
            self.stored = value

    # Chunk 1: two ops at t=1 — (None -> 10), then (10 -> 20).
    # Chunk 2: one more op at t=1 — (20 -> 30). A per-chunk enumerate
    # would give it seq 0 and fold it FIRST (expect 20 vs cur None:
    # no-op), ending at 20; the running counter folds it last -> 30.
    c1 = pd.DataFrame({"t": [1, 1], "old": [None, 10.0], "new": [10.0, 20.0]})
    c2 = pd.DataFrame({"t": [1], "old": [20.0], "new": [30.0]})
    state = FakeState()
    [out] = list(_cas_fold((7,), iter([c1, c2]), state))
    assert out["v"].iloc[0] == 30
    assert state.stored == (True, 30, 1)


# --- r6: micro-batch equality gates for all three window forms -------
# The same out-of-order data drives real Structured Streaming (file
# source, one file per micro-batch so the watermark advances between
# batches) in APPEND mode: late-but-within-watermark rows update their
# windows before finalization, a too-late row is EVICTED (dropped),
# and every finalized window must equal the batch operator applied to
# the rows that legitimately arrived. The watermark-eviction path was
# previously exercised only by LWW.

_WB1 = [
    {"k": "a", "ts": "2024-01-01 00:00:02", "value": 1.0},
    {"k": "a", "ts": "2024-01-01 00:00:05", "value": 2.0},
    {"k": "b", "ts": "2024-01-01 00:00:08", "value": 3.0},
    {"k": "a", "ts": "2024-01-01 00:00:25", "value": 4.0},
    {"k": "b", "ts": "2024-01-01 00:00:40", "value": 5.0},
    {"k": "a", "ts": "2024-01-01 00:01:00", "value": 6.0},
]
_WB2 = [  # one on-time row + two LATE rows still inside the watermark
    {"k": "a", "ts": "2024-01-01 00:02:00", "value": 7.0},
    {"k": "b", "ts": "2024-01-01 00:01:15", "value": 8.0},
    {"k": "a", "ts": "2024-01-01 00:01:20", "value": 9.0},
]
_WB3 = [  # on-time row + a TOO-LATE row (watermark is 00:01:00 here)
    {"k": "b", "ts": "2024-01-01 00:02:30", "value": 10.0},
    {"k": "a", "ts": "2024-01-01 00:00:30", "value": 99.0},
]
_WB4 = [  # pushes the watermark past every real window
    {"k": "zz", "ts": "2024-01-01 01:00:00", "value": 0.0},
]
_WB5 = [  # one more batch so batch-4's watermark EMITS the finals
    {"k": "zz", "ts": "2024-01-01 01:10:00", "value": 0.0},
]
# Rows the stream must have aggregated: everything except the too-late
# 99.0 row (evicted) and the final trigger row (window not finalized).
_W_EXPECTED = _WB1 + _WB2 + [_WB3[0]] + _WB4


def _drive_windowed(spark, tmp_path, name, make_agg):
    """Feed the batches through a file stream one micro-batch at a
    time; return the append-mode rows as a set of tuples."""

    src = tmp_path / f"{name}_in"
    src.mkdir()
    stream = (
        spark.readStream.schema("k string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        make_agg(stream)
        .writeStream.format("memory")
        .queryName(f"{name}_gate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .start()
    )
    try:
        for i, batch in enumerate([_WB1, _WB2, _WB3, _WB4, _WB5]):
            _write_jsonl(str(src / f"b{i + 1}.json"), batch)
            q.processAllAvailable()
        return {
            (str(r["window_start"]), str(r["window_end"]), r["k"],
             r["n"], r["total"])
            for r in spark.table(f"{name}_gate").collect()
        }
    finally:
        q.stop()


def _batch_windowed(spark, make_agg):
    df = spark.createDataFrame(
        [(r["k"], r["ts"], r["value"]) for r in _W_EXPECTED],
        "k string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return {
        (str(r["window_start"]), str(r["window_end"]), r["k"],
         r["n"], r["total"])
        for r in make_agg(df).collect()
    }


def test_stream_tumbling_equals_batch_with_late_rows(spark, tmp_path):
    def agg(df):
        return tumbling_agg(
            df, "ts", "10 seconds", "60 seconds", ["k"],
            {"n": "count(*)", "total": "sum(value)"},
        )

    got = _drive_windowed(spark, tmp_path, "tumb_eq", agg)
    assert got == _batch_windowed(spark, agg)
    # the evicted row's window must NOT carry the 99.0 value
    assert not any(r[4] == 99.0 for r in got)


def test_stream_sliding_equals_batch_with_late_rows(spark, tmp_path):
    def agg(df):
        return sliding_agg(
            df, "ts", "20 seconds", "10 seconds", "60 seconds", ["k"],
            {"n": "count(*)", "total": "sum(value)"},
        )

    got = _drive_windowed(spark, tmp_path, "slide_eq", agg)
    assert got == _batch_windowed(spark, agg)


def test_stream_session_equals_batch_with_late_rows(spark, tmp_path):
    def agg(df):
        return session_agg(
            df, "ts", "10 seconds", "60 seconds", ["k"],
            {"n": "count(*)", "total": "sum(value)"},
        )

    got = _drive_windowed(spark, tmp_path, "sess_eq", agg)
    assert got == _batch_windowed(spark, agg)
    # the 00:01:15/00:01:20 late rows merged their sessions pre-close
    assert any(r[2] == "a" and r[3] >= 2 for r in got)


def test_incremental_line_dedup_retroactive(spark, tmp_path):
    """A line crossing the min_docs threshold retroactively rewrites
    OLD documents: epoch 2 must re-emit doc 1 with the now-boilerplate
    line removed, and leave untouched docs unemitted."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalLineDedup,
    )

    inc = IncrementalLineDedup(spark, str(tmp_path / "ld_state"))
    b1 = spark.createDataFrame(
        [
            (1, "cookie banner\nunique line one"),
            (2, "all mine\nnothing shared"),
        ],
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: r for r in inc.process_batch(b1, epoch=1).collect()}
    assert out1[1]["text"] == "cookie banner\nunique line one"
    assert out1[1]["n_removed"] == 0

    b2 = spark.createDataFrame(
        [(3, "Cookie Banner\nfresh content")], ["doc_id", "text"]
    )
    out2 = {r["doc_id"]: r for r in inc.process_batch(b2, epoch=2).collect()}
    # emits batch doc 3 AND affected old doc 1; NOT untouched doc 2
    assert set(out2) == {1, 3}
    assert out2[1]["text"] == "unique line one"
    assert out2[1]["n_removed"] == 1
    assert out2[3]["text"] == "fresh content"

    # state equals the batch operator over everything ingested
    full = b1.unionByName(b2)
    expect = {
        tuple(r)
        for r in curation.line_dedup(full, min_docs=2).collect()
    }
    got = {tuple(r) for r in inc.current().collect()}
    assert got == expect


def test_incremental_line_dedup_random_epochs(spark, tmp_path):
    """Randomized epochs (shared vocabulary forces collisions): after
    every batch the maintained state equals the batch operator over
    everything ingested so far; crosses the compaction boundary."""

    import random

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalLineDedup,
    )

    rng = random.Random(61)
    lines_pool = [f"line {i}" for i in range(12)]
    inc = IncrementalLineDedup(spark, str(tmp_path / "ldr_state"))
    inc.compact_every = 3  # cross the fold boundary inside the test
    seen = []
    doc_id = 0
    for epoch in range(1, 6):
        batch_rows = []
        for _ in range(rng.randint(1, 3)):
            doc_id += 1
            n = rng.randint(1, 4)
            batch_rows.append(
                (doc_id, "\n".join(rng.choice(lines_pool) for _ in range(n)))
            )
        batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
        seen.extend(batch_rows)
        inc.process_batch(batch, epoch=epoch)
        full = spark.createDataFrame(seen, ["doc_id", "text"])
        expect = {
            tuple(r)
            for r in curation.line_dedup(full, min_docs=2).collect()
        }
        got = {tuple(r) for r in inc.current().collect()}
        assert got == expect, f"epoch {epoch}"


def test_incremental_line_dedup_retry_idempotent(spark, tmp_path):
    """A retried epoch (foreachBatch at-least-once) replaces its own
    contribution instead of double-counting: a second process_batch
    with the same epoch id leaves counts—and therefore every doc's
    output—unchanged."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalLineDedup,
    )

    inc = IncrementalLineDedup(spark, str(tmp_path / "ldi_state"))
    b1 = spark.createDataFrame(
        [(1, "shared line\nmine alone")], ["doc_id", "text"]
    )
    inc.process_batch(b1, epoch=1)
    inc.process_batch(b1, epoch=1)  # retry of the SAME epoch
    # "shared line" appears in ONE doc; a double-count would make it
    # boilerplate (nd=2) and strip it.
    got = {tuple(r) for r in inc.current().collect()}
    expect = {
        tuple(r) for r in curation.line_dedup(b1, min_docs=2).collect()
    }
    assert got == expect


def test_stream_curate_gopher_gate(spark, tmp_path):
    """stream_curate(gopher=...) composes the Gopher A1.1 word-level
    rules into the same map-only projection: too-short and
    symbol-heavy docs drop, a passing doc flows through."""

    from declarative_dataflow_spark.streaming.curation import stream_curate

    src = tmp_path / "gop_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 1, "text": "the quick brown fox is on the hill for now "
                              "and the dog naps in the shade of a tall tree"},
        {"doc_id": 2, "text": "tiny text the a"},  # below min_words
        {"doc_id": 3, "text": "the ### fox ### ... and ### more ### is "
                              "on a ### hill ### here ### now ### too "
                              "### with ### many more ### markers ###"},
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    curated = stream_curate(
        stream, min_quality=0.0, gopher={"min_words": 10, "min_mean_len": 2.0}
    )
    q = (
        curated.writeStream.format("memory")
        .queryName("gop_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gop_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"] for r in spark.table("gop_test").collect()}
        assert got == {1}
    finally:
        q.stop()


def test_incremental_hll_matches_batch_across_compaction(spark, tmp_path):
    """Register state maintained by max-merge equals the batch sketch
    at every epoch, including across the generational compaction
    boundary and under an epoch retry (exactly-once overwrite)."""

    from declarative_dataflow_spark.operators import sketch
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalHLL,
    )

    ih = IncrementalHLL(spark, str(tmp_path / "hll_state"))
    ih.compact_every = 2  # force a compaction mid-run
    seen = []
    for e in range(4):
        rows = [
            (e * 10 + i, " ".join(f"tok{e}_{i}_{j} shared{j}" for j in range(20)))
            for i in range(3)
        ]
        seen.extend(rows)
        batch = spark.createDataFrame(rows, ["doc_id", "text"])
        ih.process_batch(batch, epoch=e)
        if e == 1:  # retried micro-batch must not double-count
            ih.process_batch(batch, epoch=e)
        full = spark.createDataFrame(seen, ["doc_id", "text"])
        expect = sorted(
            map(tuple, sketch.hll_registers(full).collect())
        )
        got = sorted(map(tuple, ih.registers().collect()))
        assert got == expect, e
    est = ih.estimate().collect()[0]
    batch_est = sketch.hll_estimate_from_registers(
        sketch.hll_registers(spark.createDataFrame(seen, ["doc_id", "text"]))
    ).collect()[0]
    assert tuple(est) == tuple(batch_est)


def test_incremental_cms_adds_and_retracts(spark, tmp_path):
    """Cell state maintained by sum-merge equals the batch sketch on
    the NET corpus at every epoch — including after retractions and
    down to the empty sketch when everything retracts."""

    from declarative_dataflow_spark.operators import sketch
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalCMS,
    )

    ic = IncrementalCMS(spark, str(tmp_path / "cms_state"))
    d1 = spark.createDataFrame(
        [(1, "heavy heavy heavy common"), (2, "common rare1 rare2")],
        ["doc_id", "text"],
    )
    d2 = spark.createDataFrame([(3, "heavy common rare3")], ["doc_id", "text"])

    ic.process_batch(adds=d1, epoch=0)
    ic.process_batch(adds=d2, epoch=1)
    both = d1.unionByName(d2)
    assert sorted(map(tuple, ic.sketch().collect())) == sorted(
        map(tuple, sketch.cms_sketch(both).collect())
    )
    est = {r["term"]: r["est"] for r in ic.estimate(["heavy", "common", "absent"]).collect()}
    assert est["heavy"] >= 4 and est["common"] >= 3
    assert est["absent"] == 0  # no collision at this tiny fill

    # retract doc 1: state equals the batch sketch of docs 2+3
    ic.process_batch(retracts=d1.filter("doc_id = 1"), epoch=2)
    net = both.filter("doc_id != 1")
    assert sorted(map(tuple, ic.sketch().collect())) == sorted(
        map(tuple, sketch.cms_sketch(net).collect())
    )
    # retract the rest: the sketch empties completely
    ic.process_batch(retracts=net, epoch=3)
    assert ic.sketch().count() == 0


def test_incremental_bm25_matches_batch_under_churn(spark, tmp_path):
    """The maintained BM25 state (scalars + matching-doc tables, all
    signed sums) re-derives exactly the batch ranking on the net
    corpus at every epoch — including after retractions that change
    N, avgdl, and df for every remaining document."""

    import random

    from declarative_dataflow_spark.operators import retrieval
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalBM25,
    )

    terms = ["spark", "query"]
    ib = IncrementalBM25(spark, str(tmp_path / "bm25_state"), terms)
    rng = random.Random(7)
    words = ["spark", "query", "engine", "fast", "data", "plan"]
    live = {}
    next_id = 0
    for e in range(5):
        adds = []
        for _ in range(rng.randint(1, 3)):
            text = " ".join(rng.choice(words) for _ in range(rng.randint(3, 8)))
            adds.append((next_id, text))
            live[next_id] = text
            next_id += 1
        rets = []
        if e >= 2 and live:
            rid = rng.choice(sorted(live))
            rets.append((rid, live.pop(rid)))
        ib.process_batch(
            adds=spark.createDataFrame(adds, ["doc_id", "text"]),
            retracts=(
                spark.createDataFrame(rets, ["doc_id", "text"])
                if rets
                else None
            ),
            epoch=e,
        )
        net = spark.createDataFrame(sorted(live.items()), ["doc_id", "text"])
        expect = sorted(map(tuple, retrieval.bm25_topk(net, terms, k=10).collect()))
        got = sorted(map(tuple, ib.topk(k=10).collect()))
        assert got == expect, (e, sorted(live))


def test_incremental_nb_matches_batch_under_churn(spark, tmp_path):
    """Signed NB count state equals the batch classifier on the net
    corpus at every epoch — vocabulary V shrinks when a term's last
    occurrence retracts, priors and totals track exactly."""

    import random

    from declarative_dataflow_spark.operators import text as text_ops
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalNB,
    )

    inb = IncrementalNB(spark, str(tmp_path / "nb_state"))
    rng = random.Random(11)
    words = ["clean", "prose", "junk", "spam", "data", "noise"]
    live = {}
    next_id = 0
    for e in range(4):
        adds = []
        for _ in range(rng.randint(1, 3)):
            txt = " ".join(rng.choice(words) for _ in range(rng.randint(2, 6)))
            adds.append((next_id, txt, rng.random() < 0.5))
            live[next_id] = adds[-1]
            next_id += 1
        rets = []
        if e >= 2 and live:
            rid = rng.choice(sorted(live))
            rets.append(live.pop(rid))
        inb.process_batch(
            adds=spark.createDataFrame(adds, ["doc_id", "text", "label"]),
            retracts=(
                spark.createDataFrame(rets, ["doc_id", "text", "label"])
                if rets
                else None
            ),
            epoch=e,
        )
        net = spark.createDataFrame(
            sorted(live.values()), ["doc_id", "text", "label"]
        )
        expect = sorted(
            (r["doc_id"], r["n_tokens"], r["score"])
            for r in text_ops.nb_quality_score(net, label_col="label").collect()
        )
        got = sorted(map(tuple, inb.score(net).collect()))
        assert got == expect, (e, sorted(live))


def test_attach_epochs_drives_hll_from_file_stream(spark, tmp_path):
    """attach_epochs wires a maintained sketch to a REAL Structured
    Streaming file source: after two micro-batches drain, the
    maintained registers equal the batch sketch on everything
    ingested."""

    import json

    from declarative_dataflow_spark.operators import sketch
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalHLL,
        attach_epochs,
    )

    src = tmp_path / "hll_in"
    src.mkdir()
    rows1 = [{"doc_id": 1, "text": "alpha beta gamma"},
             {"doc_id": 2, "text": "beta delta"}]
    rows2 = [{"doc_id": 3, "text": "gamma epsilon zeta eta"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    ih = IncrementalHLL(spark, str(tmp_path / "hll_stream_state"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = attach_epochs(stream, ih, str(tmp_path / "hll_ckpt"))
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
        q.processAllAvailable()
    finally:
        q.stop()

    full = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows1 + rows2],
        ["doc_id", "text"],
    )
    expect = sorted(map(tuple, sketch.hll_registers(full).collect()))
    got = sorted(map(tuple, ih.registers().collect()))
    assert got == expect


def test_incremental_histogram_adds_and_retracts(spark, tmp_path):
    """Bucket state maintained by sum-merge equals the batch histogram
    on the NET corpus at every epoch — and the maintained quantiles
    equal the batch operator EXACTLY (both derive via
    hist_quantiles_from), including after retractions and down to the
    empty histogram when everything retracts."""

    from declarative_dataflow_spark.operators import sketch
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalHistogram,
    )

    ih = IncrementalHistogram(spark, str(tmp_path / "hist_state"))
    ih.compact_every = 2  # cross the compaction boundary mid-run
    d1 = spark.createDataFrame(
        [(1, 10), (2, 300), (3, 5000), (4, 17)], ["doc_id", "n_chars"]
    )
    d2 = spark.createDataFrame([(5, 0), (6, 1023), (7, 1024)], ["doc_id", "n_chars"])

    ih.process_batch(adds=d1, epoch=0)
    ih.process_batch(adds=d2, epoch=1)
    both = d1.unionByName(d2)
    assert sorted(map(tuple, ih.histogram().collect())) == sorted(
        map(tuple, sketch.hist_buckets(both).collect())
    )
    assert sorted(map(tuple, ih.quantiles().collect())) == sorted(
        map(tuple, sketch.hist_quantiles(both).collect())
    )

    # retract docs 3 and 7: state equals the batch histogram of the rest
    gone = both.filter("doc_id IN (3, 7)")
    ih.process_batch(retracts=gone, epoch=2)
    net = both.filter("doc_id NOT IN (3, 7)")
    assert sorted(map(tuple, ih.histogram().collect())) == sorted(
        map(tuple, sketch.hist_buckets(net).collect())
    )
    assert sorted(map(tuple, ih.quantiles().collect())) == sorted(
        map(tuple, sketch.hist_quantiles(net).collect())
    )
    # retract the rest: the histogram empties completely
    ih.process_batch(retracts=net, epoch=3)
    assert ih.histogram().count() == 0


def test_incremental_bloom_matches_batch_under_churn(spark, tmp_path):
    """The counting-Bloom state equals the batch filter built on the
    NET eval set at every epoch: membership survives a retraction of
    one of two benchmarks sharing a bit, and a fully retracted eval
    set empties the filter."""

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalBloom,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five"),
            (3, "alpha beta gamma nine ten"),
        ],
        ["doc_id", "text"],
    )
    ev1 = spark.createDataFrame([(100, "alpha beta gamma delta")], ["doc_id", "text"])
    ev2 = spark.createDataFrame([(101, "alpha beta gamma zz")], ["doc_id", "text"])

    ib = IncrementalBloom(spark, str(tmp_path / "bloom_state"), n=3, m_bits=64)

    def batch(ev):
        return sorted(
            map(tuple, curation.bloom_contamination(corpus, ev, n=3, m_bits=64).collect())
        )

    ib.process_batch(adds=ev1, epoch=0)
    assert sorted(map(tuple, ib.probe(corpus).collect())) == batch(ev1)
    ib.process_batch(adds=ev2, epoch=1)
    assert sorted(map(tuple, ib.probe(corpus).collect())) == batch(
        ev1.unionByName(ev2)
    )
    # retract ev1: the shared "alpha beta gamma" shingle stays set
    # (ev2 still holds it) — the counting form gets this right where
    # a plain bitmask could not.
    ib.process_batch(retracts=ev1, epoch=2)
    assert sorted(map(tuple, ib.probe(corpus).collect())) == batch(ev2)
    ib.process_batch(retracts=ev2, epoch=3)
    assert ib.bit_counts().count() == 0


def test_incremental_dsir_matches_batch_under_randomized_churn(spark, tmp_path):
    """weights(probe) from the maintained bucket counters equals the
    batch dsir_weights on the net raw/target sets after every epoch of
    randomized adds and retracts (shared model/score expressions, so
    equality is exact including the rounding)."""

    import random

    from declarative_dataflow_spark.operators import curation
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalDSIR,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(12)), "en" if i % 3 == 0 else "de")
        for i in range(24)
    ]
    full = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    inc = IncrementalDSIR(spark, str(tmp_path / "dsir_state"), n_buckets=128)

    live: set[int] = set()
    epoch = 0
    for step in range(4):
        dead = set(r[0] for r in rows) - live
        adds = set(rng.sample(sorted(dead), k=min(8, len(dead))))
        rets = set(rng.sample(sorted(live), k=min(3, len(live)))) if live else set()
        add_df = full.filter(full.doc_id.isin(list(adds)))
        ret_df = full.filter(full.doc_id.isin(list(rets))) if rets else None
        inc.process_batch(
            raw_adds=add_df,
            raw_retracts=ret_df,
            target_adds=add_df.filter("lang = 'en'"),
            target_retracts=ret_df.filter("lang = 'en'") if ret_df is not None else None,
            epoch=epoch,
        )
        epoch += 1
        live = (live | adds) - rets
        net = full.filter(full.doc_id.isin(list(live)))
        got = sorted(map(tuple, inc.weights(net).collect()))
        want = sorted(
            map(
                tuple,
                curation.dsir_weights(
                    net, net.filter("lang = 'en'"), n_buckets=128
                ).collect(),
            )
        )
        assert got == want, f"epoch {epoch}"


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """The watermarked stream-stream time-range join, fed the same
    rows as micro-batches (out of order across batches), finalizes to
    exactly the batch interval_join result."""

    from declarative_dataflow_spark.operators.timeseries import interval_join
    from declarative_dataflow_spark.streaming.joins import (
        stream_interval_join,
    )

    psrc = tmp_path / "pts"
    isrc = tmp_path / "ivs"
    psrc.mkdir()
    isrc.mkdir()
    pts = [
        {"pid": 1, "k": 1, "ts": "2024-01-01 00:10:00"},
        {"pid": 2, "k": 1, "ts": "2024-01-01 00:40:00"},
        {"pid": 3, "k": 2, "ts": "2024-01-01 00:15:00"},
        {"pid": 4, "k": 1, "ts": "2024-01-01 01:30:00"},
    ]
    ivs = [
        {"vid": 10, "k": 1, "start": "2024-01-01 00:00:00", "end": "2024-01-01 00:20:00"},
        {"vid": 11, "k": 1, "start": "2024-01-01 00:30:00", "end": "2024-01-01 01:00:00"},
        {"vid": 12, "k": 2, "start": "2024-01-01 00:00:00", "end": "2024-01-01 00:30:00"},
    ]
    # out-of-order delivery across micro-batches
    _write_jsonl(str(psrc / "b1.json"), [pts[1], pts[3]])
    _write_jsonl(str(psrc / "b2.json"), [pts[0], pts[2]])
    _write_jsonl(str(isrc / "b1.json"), [ivs[1]])
    _write_jsonl(str(isrc / "b2.json"), [ivs[0], ivs[2]])

    def src(path, schema, ts_cols):
        df = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(path))
        )
        for c in ts_cols:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df

    p = src(psrc, "pid long, k long, ts string", ["ts"])
    v = src(isrc, "vid long, k long, start string, end string", ["start", "end"])
    out = stream_interval_join(
        p, v, on=["k"], max_duration="1 hour", watermark="0 seconds"
    ).select("pid", "vid")
    q = (
        out.writeStream.format("memory")
        .queryName("sij_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sij_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted((r["pid"], r["vid"]) for r in spark.table("sij_test").collect())
    finally:
        q.stop()

    bp = spark.createDataFrame(
        [(r["pid"], r["k"], r["ts"]) for r in pts], ["pid", "k", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bv = spark.createDataFrame(
        [(r["vid"], r["k"], r["start"], r["end"]) for r in ivs],
        ["vid", "k", "start", "end"],
    ).withColumn("start", F.col("start").cast("timestamp")).withColumn(
        "end", F.col("end").cast("timestamp")
    )
    want = sorted(
        (r["pid"], r["vid"])
        for r in interval_join(bp, bv, on=["k"], bucket_seconds=3600).collect()
    )
    assert got == want and len(got) == 3


def test_stream_curate_blocklist_and_entropy_band(spark, tmp_path):
    """The blocklist and char-entropy gates run INSIDE the streaming
    map-only projection (no joins, no state): a blocked doc and an
    entropy outlier drop; a clean doc passes."""

    from declarative_dataflow_spark.streaming.curation import stream_curate

    src = tmp_path / "bl_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 1, "text": "the quick brown fox is on the hill for now"},
        {"doc_id": 2, "text": "the slow scan is on the hill for the day now"},  # blocked phrase
        {"doc_id": 3, "text": "aaaaaaa a aa the a is on a for a now a the"},  # low entropy
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string").json(str(src))
    )
    curated = stream_curate(
        stream,
        min_quality=0.0,
        max_repetition=1.0,
        require_lang=False,
        blocklist=["slow scan"],
        entropy_band=(2.5, 7.0),
    )
    q = (
        curated.writeStream.format("memory")
        .queryName("bl_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bl_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"] for r in spark.table("bl_test").collect()}
        assert got == {1}
    finally:
        q.stop()


def test_incremental_dedup_groups_foreachbatch(spark, tmp_path):
    """The maintained near-dup groups over a file stream with an op
    column: a cross-batch near-dup joins the group (diff asserts its
    canonical), and retracting the group's min-id doc hands the
    canonical to the survivor."""

    from declarative_dataflow_spark.streaming.curation import (
        IncrementalDedupGroups,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again today"
    )
    src = tmp_path / "idg_in"
    src.mkdir()
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 10, "text": base, "op": "add"},
    ])
    _write_jsonl(str(src / "b2.json"), [
        {"doc_id": 1, "text": None, "op": "retract"},
    ])
    inc = IncrementalDedupGroups(
        spark.createDataFrame(
            [(1, base), (2, "some other words making a distinct body")],
            ["doc_id", "text"],
        ),
        threshold=0.5,
    )
    assert {
        (r["doc_id"], r["canonical"]) for r in inc.current().collect()
    } == {(1, 1), (2, 2)}

    diffs_by_epoch: dict[int, set] = {}
    stream = (
        spark.readStream.schema("doc_id long, text string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = inc.attach(
        stream,
        sink=lambda df, epoch: diffs_by_epoch.setdefault(epoch, set()).update(
            (r["doc_id"], r["canonical"], r["diff"]) for r in df.collect()
        ),
        checkpoint=str(tmp_path / "idg_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["canonical"]) for r in inc.current().collect()
    }
    assert got == {(2, 2), (10, 10)}, got
    all_diffs = set().union(*diffs_by_epoch.values())
    # doc 10 joined doc 1's group, then inherited the canonical when
    # doc 1 was retracted
    assert (10, 1, 1) in all_diffs
    assert (10, 1, -1) in all_diffs and (10, 10, 1) in all_diffs
    assert (1, 1, -1) in all_diffs


def test_stream_semdedup_randomized_churn_matches_greedy(spark, tmp_path):
    """Randomized multi-epoch churn gate (the discipline the other
    maintained twins already have): N epochs of random jittered
    embeddings through StreamSemDeDup must reproduce an independent
    Python simulation of the documented greedy semantics — a doc is
    accepted iff it pairs (same cell, round4(cos) >= threshold) with
    NO previously-accepted doc and NO lower-id doc of its own batch
    (first-accepted wins, batch granularity, documented
    over-suppression) — and the accepted prefix must be pair-free
    under the BATCH semdedup operator. A re-sent accepted id is
    suppressed without touching state."""

    import math
    import random

    from declarative_dataflow_spark.operators import curation, similarity
    from declarative_dataflow_spark.streaming.curation import StreamSemDeDup

    rng = random.Random(4217)
    dim = 8
    bases = []
    for j in range(4):
        b = [0.0] * dim
        b[2 * j] = 1.0
        bases.append(b)

    def jittered():
        b = bases[rng.randrange(4)]
        return [x + rng.uniform(-0.05, 0.05) for x in b]

    epochs = []
    next_id = 0
    for _ in range(4):
        batch = []
        for _ in range(rng.randint(3, 12)):
            batch.append((next_id, jittered()))
            next_id += 1
        epochs.append(batch)

    cents = similarity.ivf_centroids(
        spark.createDataFrame(
            list(enumerate(bases)), "vec_id long, embedding array<double>"
        ),
        4,
        iters=0,
    )
    threshold = 0.97
    sd = StreamSemDeDup(
        spark, str(tmp_path / "sd_rand_state"), cents, threshold=threshold
    )

    # cell assignment oracle: the SAME broadcast-argmax the engine uses
    all_docs = [d for batch in epochs for d in batch]
    cells = {
        r["vec_id"]: r["cell"]
        for r in similarity._assign_cells(
            spark.createDataFrame(
                all_docs, "vec_id long, embedding array<double>"
            ),
            sd._cents,
            "vec_id",
            "embedding",
        ).collect()
    }
    vecs = dict(all_docs)

    def near(a, b):
        num = sum(vecs[a][i] * vecs[b][i] for i in range(dim))
        den = math.sqrt(sum(x * x for x in vecs[a])) * math.sqrt(
            sum(x * x for x in vecs[b])
        )
        return cells[a] == cells[b] and round(num / den, 4) >= threshold

    expected_accepted: list[int] = []
    expected_per_epoch: list[set] = []
    for batch in epochs:
        ids = sorted(i for i, _ in batch)
        kept = set()
        for i in ids:
            if any(near(i, s) for s in expected_accepted) or any(
                near(i, j) for j in ids if j < i
            ):
                continue
            kept.add(i)
        expected_per_epoch.append(kept)
        expected_accepted.extend(sorted(kept))

    for ep, batch in enumerate(epochs):
        df = spark.createDataFrame(
            batch, "vec_id long, embedding array<double>"
        )
        got = {r["vec_id"] for r in sd.process_batch(df, epoch=ep).collect()}
        assert got == expected_per_epoch[ep], f"epoch {ep}"

    state = spark.read.parquet(str(tmp_path / "sd_rand_state"))
    accepted = sorted(r["id"] for r in state.select("id").collect())
    assert accepted == sorted(expected_accepted)

    # the accepted prefix is pair-free under the BATCH operator
    accepted_df = spark.createDataFrame(
        [(i, vecs[i]) for i in accepted],
        "vec_id long, embedding array<double>",
    )
    assert (
        curation.semdedup(accepted_df, threshold=threshold).count() == 0
    )

    # a re-sent accepted id is suppressed explicitly, state unchanged
    resend = spark.createDataFrame(
        [(accepted[0], vecs[accepted[0]])],
        "vec_id long, embedding array<double>",
    )
    assert sd.process_batch(resend, epoch=len(epochs)).count() == 0
    after = sorted(
        r["id"]
        for r in spark.read.parquet(str(tmp_path / "sd_rand_state"))
        .select("id")
        .collect()
    )
    assert after == accepted


def test_incremental_token_kl_matches_batch_under_churn(spark, tmp_path):
    """IncrementalTokenKL equals batch token_kl_shift on the surviving
    documents after randomized multi-epoch add/retract churn on both
    slices (integer count state => exact equality)."""

    import random

    from declarative_dataflow_spark.operators.profile import token_kl_shift
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalTokenKL,
    )

    rng = random.Random(91)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]

    def doc(i):
        return (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8))))

    inc = IncrementalTokenKL(spark, str(tmp_path / "kl_state"))
    live = {"a": {}, "b": {}}
    next_id = 0
    for _ in range(4):
        for side in ("a", "b"):
            batch = []
            for _ in range(rng.randint(1, 4)):
                batch.append(doc(next_id))
                next_id += 1
            df = spark.createDataFrame(batch, ["doc_id", "text"])
            inc.add(df, side)
            live[side].update(dict(batch))
            if len(live[side]) > 2 and rng.random() < 0.7:
                gone = rng.sample(sorted(live[side]), k=1)
                rdf = spark.createDataFrame(
                    [(g, live[side][g]) for g in gone], ["doc_id", "text"]
                )
                inc.retract(rdf, side)
                for g in gone:
                    del live[side][g]

    got = inc.current().collect()[0]
    want = token_kl_shift(
        spark.createDataFrame(sorted(live["a"].items()), ["doc_id", "text"]),
        spark.createDataFrame(sorted(live["b"].items()), ["doc_id", "text"]),
    ).collect()[0]
    assert tuple(got) == tuple(want)


def test_incremental_embed_drift_matches_batch_under_churn(spark, tmp_path):
    """IncrementalEmbedDrift equals batch embed_drift on the surviving
    vectors after randomized add/retract churn (d-row sum state; the
    rounded outputs coincide — summation-order noise is ~1e-15 against
    a 1e-6 rounding grid)."""

    import random

    from declarative_dataflow_spark.operators.profile import embed_drift
    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalEmbedDrift,
    )

    rng = random.Random(17)
    d = 6

    def vec(i):
        return (i, [round(rng.uniform(-1, 1), 3) for _ in range(d)])

    inc = IncrementalEmbedDrift(spark, str(tmp_path / "ed_state"))
    live = {"a": {}, "b": {}}
    next_id = 0
    for _ in range(3):
        for side in ("a", "b"):
            batch = []
            for _ in range(rng.randint(1, 4)):
                batch.append(vec(next_id))
                next_id += 1
            df = spark.createDataFrame(
                batch, "vec_id long, embedding array<double>"
            )
            inc.add(df, side)
            live[side].update(dict(batch))
            if len(live[side]) > 2 and rng.random() < 0.7:
                gone = rng.sample(sorted(live[side]), k=1)
                rdf = spark.createDataFrame(
                    [(g, live[side][g]) for g in gone],
                    "vec_id long, embedding array<double>",
                )
                inc.retract(rdf, side)
                for g in gone:
                    del live[side][g]

    got = inc.current().collect()[0]
    want = embed_drift(
        spark.createDataFrame(
            sorted(live["a"].items()), "vec_id long, embedding array<double>"
        ),
        spark.createDataFrame(
            sorted(live["b"].items()), "vec_id long, embedding array<double>"
        ),
    ).collect()[0]
    assert got["n_a"] == want["n_a"] and got["n_b"] == want["n_b"]
    assert abs(got["cos_means"] - want["cos_means"]) <= 1e-5
    assert abs(got["norm_ratio"] - want["norm_ratio"]) <= 1e-5


def test_incremental_token_kl_epoch_retry_idempotent(spark, tmp_path):
    """An epoch-keyed add replayed (foreachBatch retry) replaces its
    own contribution instead of double-counting."""

    from declarative_dataflow_spark.streaming.corpus_stats import (
        IncrementalTokenKL,
    )

    inc = IncrementalTokenKL(spark, str(tmp_path / "klr_state"))
    a = spark.createDataFrame([(1, "aa bb")], ["doc_id", "text"])
    b = spark.createDataFrame([(2, "aa cc")], ["doc_id", "text"])
    inc.add(a, "a", epoch=0)
    inc.add(b, "b", epoch=0)
    first = tuple(inc.current().collect()[0])
    inc.add(a, "a", epoch=0)  # retried micro-batch
    assert tuple(inc.current().collect()[0]) == first


# ---------------------------------------------------------------------------
# Property gate: session windows vs DuckDB islands (random event sets)
# ---------------------------------------------------------------------------

import os as _os

import duckdb as _duckdb
from hypothesis import HealthCheck as _HealthCheck
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st

_sess_events = _st.lists(
    _st.tuples(_st.integers(0, 2), _st.integers(0, 50)),
    min_size=1,
    max_size=30,
)


@_settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "50")) // 2,
    deadline=None,
    suppress_health_check=[_HealthCheck.too_slow],
)
@_given(events=_sess_events)
def test_prop_session_windows_match_duckdb_islands(spark, events):
    """F.session_window's merging semantics (start = first event,
    end = last event + gap, sessions merge while intervals overlap OR
    TOUCH — an event at exactly prev + gap still merges; only a
    strictly-larger gap opens a new session) equals a lag-break +
    running-session-id islands computation in DuckDB, for random
    per-key event sets including duplicate timestamps. This gate
    CAUGHT the declared window_session oracle's >= break, latent
    because real event times never land exactly on the gap."""

    from pyspark.sql import functions as F

    from declarative_dataflow_spark.streaming import windows

    gap = 5
    df = spark.createDataFrame(events, ["u", "sec"]).select(
        "u", F.timestamp_seconds(F.col("sec")).alias("t")
    )
    out = windows.session_agg(
        df, "t", f"{gap} seconds", "0 seconds", ["u"], {"n": "count(*)"}
    )
    got = sorted(
        tuple(r)
        for r in out.select(
            "u",
            (F.unix_micros("window_start") / 1_000_000).cast("long").alias("ws"),
            (F.unix_micros("window_end") / 1_000_000).cast("long").alias("we"),
            "n",
        ).collect()
    )

    con = _duckdb.connect()
    try:
        con.execute("CREATE TABLE ev (u BIGINT, sec BIGINT)")
        con.executemany("INSERT INTO ev VALUES (?, ?)", events)
        want = sorted(
            tuple(r)
            for r in con.execute(
                "WITH lagged AS (SELECT u, sec, CASE WHEN "
                "lag(sec) OVER (PARTITION BY u ORDER BY sec) IS NULL "
                f"OR sec > lag(sec) OVER (PARTITION BY u ORDER BY sec) + {gap} "
                "THEN 1 ELSE 0 END AS brk FROM ev), "
                "isl AS (SELECT u, sec, sum(brk) OVER ("
                "PARTITION BY u ORDER BY sec ROWS UNBOUNDED PRECEDING"
                ") AS sid FROM lagged) "
                f"SELECT u, min(sec) AS ws, max(sec) + {gap} AS we, "
                "count(*) AS n FROM isl GROUP BY u, sid"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want


@_settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "50")) // 2,
    deadline=None,
    suppress_health_check=[_HealthCheck.too_slow],
)
@_given(events=_sess_events)
def test_prop_tumbling_windows_match_duckdb_floor(spark, events):
    """F.window tumbling assignment equals floor-bucket grouping: an
    event at an exact boundary belongs to the window it STARTS."""

    from pyspark.sql import functions as F

    from declarative_dataflow_spark.streaming import windows

    w = 7
    df = spark.createDataFrame(events, ["u", "sec"]).select(
        "u", F.timestamp_seconds(F.col("sec")).alias("t")
    )
    out = windows.tumbling_agg(
        df, "t", f"{w} seconds", "0 seconds", ["u"], {"n": "count(*)"}
    )
    got = sorted(
        tuple(r)
        for r in out.select(
            "u",
            (F.unix_micros("window_start") / 1_000_000).cast("long").alias("ws"),
            "n",
        ).collect()
    )
    con = _duckdb.connect()
    try:
        con.execute("CREATE TABLE ev (u BIGINT, sec BIGINT)")
        con.executemany("INSERT INTO ev VALUES (?, ?)", events)
        want = sorted(
            tuple(r)
            for r in con.execute(
                f"SELECT u, (sec // {w}) * {w} AS ws, count(*) AS n "
                "FROM ev GROUP BY 1, 2"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want


@_settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "50")) // 2,
    deadline=None,
    suppress_health_check=[_HealthCheck.too_slow],
)
@_given(events=_sess_events)
def test_prop_sliding_windows_match_duckdb_panes(spark, events):
    """F.window(window, slide) assigns each event to every pane whose
    [start, start+window) interval contains it, pane starts on slide
    multiples — reproduced in DuckDB by generating the pane ids each
    event overlaps."""

    from pyspark.sql import functions as F

    from declarative_dataflow_spark.streaming import windows

    w, s = 10, 4
    df = spark.createDataFrame(events, ["u", "sec"]).select(
        "u", F.timestamp_seconds(F.col("sec")).alias("t")
    )
    out = windows.sliding_agg(
        df, "t", f"{w} seconds", f"{s} seconds", "0 seconds",
        ["u"], {"n": "count(*)"},
    )
    got = sorted(
        tuple(r)
        for r in out.select(
            "u",
            (F.unix_micros("window_start") / 1_000_000).cast("long").alias("ws"),
            "n",
        ).collect()
    )
    con = _duckdb.connect()
    try:
        con.execute("CREATE TABLE ev (u BIGINT, sec BIGINT)")
        con.executemany("INSERT INTO ev VALUES (?, ?)", events)
        # pane starts: multiples of s in (sec - w, sec] — i.e. the
        # panes whose [ws, ws + w) contains sec (ws can be negative
        # for small sec, exactly like Spark's).
        want = sorted(
            tuple(r)
            for r in con.execute(
                # range bounds widened by one slide each way: DuckDB's
                # // truncates toward zero (Python floors), so exact
                # bounds live in the IF predicate, not the range.
                "WITH panes AS (SELECT u, sec, UNNEST(["
                f"k * {s} FOR k IN range((sec - {w}) // {s} - 1, "
                f"sec // {s} + 2) IF k * {s} > sec - {w} "
                f"AND k * {s} <= sec]) AS ws FROM ev) "
                "SELECT u, ws, count(*) AS n FROM panes GROUP BY 1, 2"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want

def test_stream_curate_c4_gate(spark, tmp_path):
    """stream_curate(c4=...) drops pages failing the C4 structural
    gate, and survivors flow downstream with ONLY their kept lines —
    batch-equal to c4_rules then curate."""

    from declarative_dataflow_spark.streaming.curation import stream_curate

    src = tmp_path / "c4_in"
    src.mkdir()
    good = (
        "the quick brown fox is here today.\n"
        "a second fine line for the page.\n"
        "and the third full line lands here.\n"
        "trailing junk line without punctuation"
    )
    _write_jsonl(str(src / "b1.json"), [
        {"doc_id": 1, "text": good},
        {"doc_id": 2, "text": "only one good line is here today.\nshort."},
        {"doc_id": 3, "text": good + "\nthis body is lorem ipsum filler."},
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    curated = stream_curate(
        stream, min_quality=0.0, require_lang=False, c4={}
    )
    q = (
        curated.writeStream.format("memory")
        .queryName("c4_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c4_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows_ = {r["doc_id"]: r for r in spark.table("c4_test").collect()}
        assert set(rows_) == {1}  # 2: < 3 kept lines; 3: lorem ipsum
        # the junk line was cut BEFORE downstream stages saw the page
        assert "junk" not in rows_[1]["text"]
        assert rows_[1]["text"].count("\n") == 2
    finally:
        q.stop()

def test_stream_fuzzy_dedup_cross_batch(spark, tmp_path):
    """StreamFuzzyDedup: in-batch distance-1 keys collapse to the
    lowest id; a later batch's near-key of an ACCEPTED row is
    suppressed by the variant-index state; novel keys pass; NULL keys
    pass through unexamined."""

    from declarative_dataflow_spark.streaming.curation import StreamFuzzyDedup

    fd = StreamFuzzyDedup(spark, str(tmp_path / "fz_state"))
    b1 = spark.createDataFrame(
        [(1, "widget"), (2, "widgot"), (3, "gizmo"), (4, None)],
        "id long, s string",
    )
    k1 = sorted(r["id"] for r in fd.process_batch(b1, epoch=0).collect())
    assert k1 == [1, 3, 4]  # 2 ~ 1 dropped; NULL passes
    b2 = spark.createDataFrame(
        [(10, "widgets"), (11, "gadget"), (12, "gizmo")],
        "id long, s string",
    )
    k2 = sorted(r["id"] for r in fd.process_batch(b2, epoch=1).collect())
    # widgets ~ widget (insertion) suppressed by state; exact dup 12
    # suppressed; gadget novel
    assert k2 == [11]


def test_stream_fuzzy_dedup_retry_idempotent(spark, tmp_path):
    """A RETRIED epoch must not dedup against its own prior state
    contribution (epoch-keyed overwrite)."""

    from declarative_dataflow_spark.streaming.curation import StreamFuzzyDedup

    fd = StreamFuzzyDedup(spark, str(tmp_path / "fz_state"))
    b = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, s string")
    first = sorted(r["id"] for r in fd.process_batch(b, epoch=5).collect())
    retry = sorted(r["id"] for r in fd.process_batch(b, epoch=5).collect())
    assert first == retry == [1, 2]


def test_stream_fuzzy_dedup_matches_batch_on_prefix(spark, tmp_path):
    """Randomized churn: feeding batches in sequence accepts EXACTLY
    the ids the batch fuzzy_match_groups canonical-survivor rule keeps
    on the concatenated prefix — when every cluster arrives with its
    canonical first (ordered feed), greedy streaming and batch closure
    agree."""

    import random

    from declarative_dataflow_spark.operators import dedup as dd
    from declarative_dataflow_spark.streaming.curation import StreamFuzzyDedup

    rng = random.Random(77)
    rows = [
        (i, "".join(rng.choice("abcd") for _ in range(rng.randint(4, 7))))
        for i in range(60)
    ]
    fd = StreamFuzzyDedup(spark, str(tmp_path / "fz_state"))
    accepted = []
    for e, lo in enumerate(range(0, 60, 20)):
        batch = spark.createDataFrame(
            rows[lo : lo + 20], "id long, s string"
        )
        accepted += [
            r["id"] for r in fd.process_batch(batch, epoch=e).collect()
        ]
    full = spark.createDataFrame(rows, "id long, s string")
    batch_groups = {
        r["id"]: r["canonical"]
        for r in dd.fuzzy_match_groups(full, id_col="id", s_col="s").collect()
    }
    # Every accepted id is its cluster's FIRST-SEEN member (ids arrive
    # in order, so first-seen == smallest == the batch canonical when
    # the whole cluster is within the fed prefix); every non-accepted
    # id has an accepted representative within distance chain.
    acc = set(accepted)
    for i, _s in rows:
        if batch_groups[i] == i:
            assert i in acc or any(
                batch_groups[j] == i and j in acc for j, _ in rows
            )
    # streaming can over-suppress vs the closure (greedy trade) but
    # must never keep BOTH ends of a distance-1 pair
    pair_rows = dd.fuzzy_match_pairs(full, id_col="id", s_col="s").collect()
    for r in pair_rows:
        assert not (r["a"] in acc and r["b"] in acc) or r["dist"] > 1


@_settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "50")) // 2,
    deadline=None,
    suppress_health_check=[_HealthCheck.too_slow],
)
@_given(
    rows=_st.lists(
        _st.tuples(_st.integers(0, 2), _st.integers(0, 30)),
        min_size=1,
        max_size=24,
        unique=True,
    ),
    n=_st.sampled_from([1, 2, 3, 5]),
)
def test_prop_count_window_matches_bruteforce(spark, rows, n):
    """PROPERTY: count_window_agg == chopping each key's ordered rows
    into n-row chunks (last partial) — counts, bounds, and sums."""

    from declarative_dataflow_spark.streaming.windows import (
        count_window_agg,
    )

    df = spark.createDataFrame(
        [(k, t, float(t)) for k, t in rows], ["k", "t", "v"]
    )
    got = sorted(
        tuple(r)
        for r in count_window_agg(
            df, n, ["k"], ["t"], {"lo": "min(t)", "s": "round(sum(v), 2)"}
        ).collect()
    )
    want = []
    by_key = {}
    for k, t in rows:
        by_key.setdefault(k, []).append(t)
    for k, ts in by_key.items():
        ts.sort()
        for w in range(0, len(ts), n):
            chunk = ts[w : w + n]
            want.append(
                (k, w // n, len(chunk), min(chunk),
                 round(float(sum(chunk)), 2))
            )
    assert got == sorted(want)


def test_count_window_rejects_nonpositive_n(spark):
    """n < 1 must fail loudly: n=0 would make (rn-1) DIV 0 a silent
    NULL win_seq collapsing each key into one NULL window."""

    import pytest as _pytest

    from declarative_dataflow_spark.streaming.windows import (
        count_window_agg,
    )

    df = spark.createDataFrame([(1, 1, 1.0)], ["k", "t", "v"])
    for bad in (0, -3):
        with _pytest.raises(ValueError, match="n >= 1"):
            count_window_agg(df, bad, ["k"], ["t"], {"s": "sum(v)"})


# ---------------------------------------------------------------------------
# Lossless compaction on the generational store
# ---------------------------------------------------------------------------

_DOCS_A = [(1, "red blue green red"), (2, "blue sky high")]
_DOCS_B = [(3, "green grass red sky")]
# retracted in the first epoch, BEFORE it is added in the second: its
# net support is zero, at any compaction schedule
_DOC_X = [(9, "zebra quartz red blue")]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, i % 2 == 0, len(t), [float(i), float(len(t))])
         for i, t in rows],
        "doc_id long, text string, label boolean, n_chars long, "
        "embedding array<double>",
    )


def _sided_step(m, adds, rets, epoch):
    """Two-slice maintainers: the script runs on slice a; slice b holds
    the first epoch's documents."""

    m.retract(rets, "a")
    m.add(adds, "a")
    if epoch == 0:
        m.add(adds, "b")


def _corpus_cases():
    from declarative_dataflow_spark.streaming import corpus_stats as cs

    def signed(m, adds, rets, epoch):
        m.process_batch(adds, rets, epoch=epoch)

    def dsir(m, adds, rets, epoch):
        m.process_batch(adds, rets, adds, None, epoch=epoch)

    return {
        "cms": (lambda s, d: cs.IncrementalCMS(s, d, width=64), signed,
                lambda m, s: m.sketch()),
        "histogram": (lambda s, d: cs.IncrementalHistogram(s, d), signed,
                      lambda m, s: m.histogram()),
        "bm25": (lambda s, d: cs.IncrementalBM25(
            s, d, ["red", "blue", "zebra"]), signed,
            lambda m, s: m.topk(10)),
        "nb": (lambda s, d: cs.IncrementalNB(s, d), signed,
               lambda m, s: m.score(_docs(s, _DOCS_A + _DOCS_B + _DOC_X))),
        "bloom": (lambda s, d: cs.IncrementalBloom(s, d, n=2, m_bits=256),
                  signed, lambda m, s: m.bit_counts()),
        "dsir": (lambda s, d: cs.IncrementalDSIR(s, d, n_buckets=64), dsir,
                 lambda m, s: m.model()),
        "token_kl": (lambda s, d: cs.IncrementalTokenKL(s, d),
                     _sided_step, lambda m, s: m.current()),
        "embed_drift": (lambda s, d: cs.IncrementalEmbedDrift(s, d),
                        _sided_step, lambda m, s: m.current()),
    }


def _run_corpus_case(spark, state_dir, name, every):
    make, step, read = _corpus_cases()[name]
    m = make(spark, state_dir)
    m.compact_every = every
    for epoch, (adds, rets) in enumerate(
        [(_DOCS_A, _DOC_X), (_DOCS_B + _DOC_X, _DOCS_A[1:])]
    ):
        step(m, _docs(spark, adds), _docs(spark, rets), epoch)
    return sorted(tuple(r) for r in read(m, spark).collect())


@pytest.fixture(scope="module")
def _corpus_runs(spark, tmp_path_factory, selected_params):
    """Every selected case under both schedules, side by side
    (independent state dirs; Spark schedules concurrent jobs from
    driver threads); teardown cancels what has not started and waits
    for the rest."""

    import concurrent.futures

    root = tmp_path_factory.mktemp("compaction")
    pool = concurrent.futures.ThreadPoolExecutor(4)
    names = selected_params(test_signed_maintainer_compaction_is_lossless,
                            "name")
    yield {
        (name, every): pool.submit(
            _run_corpus_case, spark, str(root / f"{name}_{every}"),
            name, every,
        )
        for name in names
        for every in (1, 100)
    }
    pool.shutdown(wait=True, cancel_futures=True)


@pytest.mark.parametrize("name", sorted(_corpus_cases()))
def test_signed_maintainer_compaction_is_lossless(_corpus_runs, name):
    """Compaction folds the raw signed increments — never a read view
    that drops negative rows — so compacting after every epoch and
    never compacting give the same answer, with a retraction that
    arrives before its add."""

    always = _corpus_runs[name, 1].result(timeout=900)
    assert always == _corpus_runs[name, 100].result(timeout=900)
    assert always


@pytest.mark.parametrize("name", ["token_kl", "embed_drift"])
def test_sided_attach_streams_compact_concurrently(spark, tmp_path, name):
    """One attach stream per slice: each runs its foreachBatch on its
    own driver thread and, at compact_every = 1, compacts only the
    slice it wrote — so neither swaps the other's generation while the
    other writes an increment into it. Both slices keep every batch:
    the maintained drift equals the batch operator on all documents."""

    from declarative_dataflow_spark.operators.profile import (
        embed_drift,
        token_kl_shift,
    )
    from declarative_dataflow_spark.streaming import corpus_stats as cs

    make, batch_op = {
        "token_kl": (cs.IncrementalTokenKL, token_kl_shift),
        "embed_drift": (cs.IncrementalEmbedDrift, embed_drift),
    }[name]
    words = ["red", "blue", "green", "sky", "grass", "high"]
    batches = {
        side: [
            [(i, " ".join(words[(i + j) % 6] for j in range(1 + i % 4)))
             for i in range(base + 2 * b, base + 2 * b + 2)]
            for b in range(3)
        ]
        for side, base in (("a", 0), ("b", 50))
    }
    state = tmp_path / "state"
    m = make(spark, str(state))
    m.compact_every = 1
    queries = []
    try:
        for side, side_batches in batches.items():
            src = tmp_path / f"in_{side}"
            src.mkdir()
            for b, rows in enumerate(side_batches):
                (src / f"b{b}.json").write_text("\n".join(
                    json.dumps({"doc_id": i, "text": t,
                                "embedding": [float(i), float(len(t))]})
                    for i, t in rows
                ))
            stream = (
                spark.readStream.schema(
                    "doc_id long, text string, embedding array<double>"
                )
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )
            queries.append(m.attach(
                stream, side, str(tmp_path / f"ckpt_{side}"),
                query_name=f"{name}_{side}",
            ))
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    got = m.current().collect()[0].asDict()
    want = batch_op(*[
        _docs(spark, [r for rows in batches[side] for r in rows])
        for side in ("a", "b")
    ]).collect()[0].asDict()
    assert got == pytest.approx(want, abs=1e-5)
    table = {"token_kl": "kl", "embed_drift": "ed"}[name]
    for side in ("a", "b"):
        # three epochs, each compacted once: generations v1..v3
        assert (state / f"{table}_{side}.version").read_text() == "3"
