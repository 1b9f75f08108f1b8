"""Custom stateful streaming operator (applyInPandasWithState)."""

import time

import pytest

from rayforce_spark.streaming import Journal, read_journal_stream
from rayforce_spark.streaming.stateful import sessionize


def test_sessionize_closes_on_gap(spark, tmp_path):
    jpath = str(tmp_path / "sess")
    schema = "user_id long, ts_sec double, value double"
    j = Journal(jpath, schema)
    # user 1: two sessions separated by > gap; user 2: one session
    j.append([
        {"user_id": 1, "ts_sec": 0.0, "value": 1.0},
        {"user_id": 1, "ts_sec": 10.0, "value": 2.0},
        {"user_id": 1, "ts_sec": 5000.0, "value": 7.0},
        {"user_id": 2, "ts_sec": 100.0, "value": 5.0},
    ])
    stream = read_journal_stream(spark, jpath, schema)
    out = sessionize(stream, gap_sec=1800)
    # NB: with ProcessingTimeTimeout the stateful operator requests a batch
    # every trigger to fire pending timeouts, so the query never drains —
    # poll the sink for the expected row instead of processAllAvailable().
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("sessions").start()
    )
    try:
        deadline = time.time() + 120
        rows = {}
        while time.time() < deadline:
            rows = {
                (r.user_id, r.session_start): (r.n_events, r.sum_value)
                for r in spark.sql("SELECT * FROM sessions").collect()
            }
            if rows:
                break
            time.sleep(0.5)
        # the first session of user 1 closed because a later event crossed
        # the gap; open sessions (u1 second, u2) remain in state
        assert rows == {(1, 0.0): (2, 3.0)}
    finally:
        q.stop()


def test_stream_asof_join_late_data(spark, tmp_path):
    """Streaming asof (ref core/join.c:300 semantics, streamed): left rows
    emit once the watermark passes them, matching the greatest right time
    <= left time — including a right row that arrives LATE (out of order,
    inside the watermark)."""
    from rayforce_spark.streaming.stateful import stream_asof_join

    lpath, rpath = str(tmp_path / "trades"), str(tmp_path / "quotes")
    lschema = "sym string, ts timestamp, price double"
    rschema = "sym string, ts timestamp, bid double"
    lj = Journal(lpath, lschema)
    rj = Journal(rpath, rschema)

    # batch 1: quotes at :00 (bid 1.0, then same-ts bid 1.25 — arrival
    # last-wins) and :02 (2.0); trades at :01.5, :03, and a B trade with
    # no B quote ever. Watermark after this batch = :03 - 2s = :01.
    rj.append([
        {"sym": "A", "ts": "2024-01-01 10:00:00", "bid": 1.0},
        {"sym": "A", "ts": "2024-01-01 10:00:00", "bid": 1.25},
        {"sym": "A", "ts": "2024-01-01 10:00:02", "bid": 2.0},
    ])
    lj.append([
        {"sym": "A", "ts": "2024-01-01 10:00:01.500", "price": 10.0},
        {"sym": "A", "ts": "2024-01-01 10:00:03", "price": 11.0},
        {"sym": "B", "ts": "2024-01-01 10:00:01.500", "price": 99.0},
    ])

    left = read_journal_stream(spark, lpath, lschema)
    right = read_journal_stream(spark, rpath, rschema)
    out = stream_asof_join(left, right, "sym", "ts", watermark="2 seconds")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("asof_sink").start()
    )
    try:
        def rows():
            return {
                (r.sym, r.ts.isoformat(), r.price): r.bid
                for r in spark.sql("SELECT * FROM asof_sink").collect()
            }

        def wait_for(n):
            deadline = time.time() + 120
            while time.time() < deadline:
                got = rows()
                if len(got) >= n:
                    return got
                time.sleep(0.5)
            raise AssertionError(f"sink stuck at {rows()}")

        # batch 2: an OUT-OF-ORDER quote at :01.2 (older than the already
        # seen :02 quote, but still above the :01 watermark, so it is not
        # dropped) plus an advancer. No trade is older than the watermark
        # yet, so nothing emits.
        time.sleep(2)
        rj.append([
            {"sym": "A", "ts": "2024-01-01 10:00:01.200", "bid": 1.5},
            {"sym": "A", "ts": "2024-01-01 10:00:06", "bid": 9.0},
        ])
        # batch 3: advance the watermark past :03. All three trades emit:
        # the :01.5 trade must match the out-of-order :01.2 quote (1.5),
        # not the stale :00 one; the B trade (no quotes, flushed by the
        # event-time timeout) reports null.
        time.sleep(2)
        rj.append([{"sym": "A", "ts": "2024-01-01 10:00:20", "bid": 9.9}])
        got = wait_for(3)
        assert got[("A", "2024-01-01T10:00:01.500000", 10.0)] == 1.5
        assert got[("A", "2024-01-01T10:00:03", 11.0)] == 2.0
        assert got[("B", "2024-01-01T10:00:01.500000", 99.0)] is None
    finally:
        q.stop()


def test_stream_asof_join_dup_ts_last_arrival_wins(spark, tmp_path):
    """Duplicate right timestamps: the LAST arrival wins (the streaming
    form of the reference's table-order last-wins, ref core/index.c:3194)."""
    from rayforce_spark.streaming.stateful import stream_asof_join

    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    lschema = "k long, ts timestamp, v double"
    rschema = "k long, ts timestamp, rv double"
    lj, rj = Journal(lpath, lschema), Journal(rpath, rschema)
    rj.append([
        {"k": 1, "ts": "2024-01-01 00:00:00", "rv": 1.0},
        {"k": 1, "ts": "2024-01-01 00:00:00", "rv": 2.0},
    ])
    lj.append([{"k": 1, "ts": "2024-01-01 00:00:00", "v": 5.0}])

    left = read_journal_stream(spark, lpath, lschema)
    right = read_journal_stream(spark, rpath, rschema)
    out = stream_asof_join(left, right, "k", "ts", watermark="1 seconds")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("asof_dup_sink").start()
    )
    try:
        time.sleep(2)
        rj.append([{"k": 1, "ts": "2024-01-01 00:01:00", "rv": 3.0}])
        deadline = time.time() + 120
        vals = []
        while time.time() < deadline:
            vals = [r.rv for r in spark.sql(
                "SELECT rv FROM asof_dup_sink").collect()]
            if vals:
                break
            time.sleep(0.5)
        assert vals == [2.0]
    finally:
        q.stop()


def test_stream_neardup_within_and_across_batches(spark, tmp_path):
    """Near-dup docs collide in a band bucket and emit an estimated-
    jaccard pair; distinct docs don't; a doc arriving in a LATER batch
    still matches state from the first batch."""
    from rayforce_spark.streaming.stateful import stream_neardup

    jpath = str(tmp_path / "docs")
    schema = "doc_id long, text string"
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the quiet green forest before nightfall")
    near = base.replace("quiet", "silent")
    other = ("completely different words about spark engines shuffling "
             "columnar batches through whole stage codegen pipelines")
    j = Journal(jpath, schema)
    j.append([
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": near},
        {"doc_id": 3, "text": other},
    ])
    stream = read_journal_stream(spark, jpath, schema)
    out = stream_neardup(stream, threshold=0.35, state_ttl_sec=600)
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("neardups").start()
    )
    try:
        deadline = time.time() + 120
        pairs = set()
        while time.time() < deadline:
            pairs = {(r.id_a, r.id_b) for r in
                     spark.sql("SELECT * FROM neardups").collect()}
            if (1, 2) in pairs:
                break
            time.sleep(0.5)
        assert (1, 2) in pairs          # near-dups found
        assert not any(3 in p for p in pairs)  # distinct doc clean
        # second batch: a copy of doc 1 must match the STATE, not just
        # its own batch
        j.append([{"doc_id": 9, "text": base}])
        deadline = time.time() + 120
        while time.time() < deadline:
            pairs = {(r.id_a, r.id_b) for r in
                     spark.sql("SELECT * FROM neardups").collect()}
            if (1, 9) in pairs:
                break
            time.sleep(0.5)
        assert (1, 9) in pairs
    finally:
        q.stop()


def test_stream_embedding_neardup(spark, tmp_path):
    """Near-identical vectors collide in a hyperplane bucket and emit an
    EXACT-cosine pair; an orthogonal vector stays clean; a later batch
    matches first-batch state."""
    from pyspark.sql import functions as F

    from rayforce_spark.streaming.stateful import stream_embedding_neardup

    dim = 8
    base = [1.0, 0.5, -0.25, 0.75, 0.1, -0.6, 0.3, 0.2]
    near = [x * 1.01 + (0.002 if i == 0 else 0) for i, x in enumerate(base)]
    ortho = [0.0, 0.0, 1.0, 0.0, -1.0, 0.0, 0.0, 1.0]
    jpath = str(tmp_path / "vecs")
    schema = "vec_id long, embedding array<double>"
    j = Journal(jpath, schema)
    j.append([
        {"vec_id": 1, "embedding": base},
        {"vec_id": 2, "embedding": near},
        {"vec_id": 3, "embedding": ortho},
    ])
    stream = read_journal_stream(spark, jpath, schema)
    out = stream_embedding_neardup(
        stream, dim=dim, threshold=0.95, planes=2, tables=8,
        state_ttl_sec=600,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("embdups").start()
    )
    try:
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT DISTINCT id_a, id_b, cos FROM embdups").collect()
            if any((r.id_a, r.id_b) == (1, 2) for r in rows):
                break
            time.sleep(0.5)
        got = {(r.id_a, r.id_b) for r in rows}
        assert (1, 2) in got
        assert not any(3 in p for p in got)
        # the emitted cosine is EXACT (verify against a direct compute)
        import math
        dot = sum(a * b for a, b in zip(base, near))
        exact = dot / (math.sqrt(sum(a*a for a in base))
                       * math.sqrt(sum(b*b for b in near)))
        cos12 = next(r.cos for r in rows if (r.id_a, r.id_b) == (1, 2))
        assert abs(cos12 - exact) < 1e-12
        # cross-batch: a copy of vec 1 arriving later matches state
        j.append([{"vec_id": 9, "embedding": list(base)}])
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {(r.id_a, r.id_b) for r in spark.sql(
                "SELECT id_a, id_b FROM embdups").collect()}
            if (1, 9) in got:
                break
            time.sleep(0.5)
        assert (1, 9) in got
    finally:
        q.stop()


def test_stream_pack_matches_batch_across_batches(spark, tmp_path):
    # streaming first-fit packing carries (pack, running) state across
    # micro-batches and matches pack_greedy row-for-row when fed in id
    # order (r9); NoTimeout -> the query drains, processAllAvailable ok
    from rayforce_spark.datapipe import pack_greedy
    from rayforce_spark.streaming import replay_journal
    from rayforce_spark.streaming.stateful import stream_pack

    jpath = str(tmp_path / "pack")
    schema = "doc_id long, text string"
    j = Journal(jpath, schema)
    import random
    rng = random.Random(9)
    docs = [{"doc_id": i, "text": " ".join(["t"] * rng.randint(1, 13))}
            for i in range(40)]
    docs.append({"doc_id": 40, "text": " ".join(["t"] * 50)})  # oversized
    docs.append({"doc_id": 41, "text": None})                  # null text
    # three files -> three micro-batches; shard state must span them
    for k in range(0, len(docs), 14):
        j.append(docs[k:k + 14])
        time.sleep(0.02)

    out = stream_pack(read_journal_stream(
        spark, jpath, schema, max_files_per_trigger=1),
        budget=16, shards=3, salt=2)
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName("packs").start())
    try:
        q.processAllAvailable()
        got = {r.doc_id: (r.shard, r.n_tok, r.pack)
               for r in spark.sql("SELECT * FROM packs").collect()}
    finally:
        q.stop()
    want = {r.doc_id: (r.shard, r.n_tok, r.pack)
            for r in pack_greedy(
                replay_journal(spark, jpath, schema), "text", "doc_id",
                budget=16, shards=3, salt=2).collect()}
    assert got == want and len(got) == 42
    assert got[41][1] == 0  # null text -> 0 tokens in BOTH paths


@pytest.mark.parametrize("family", ["minhash", "simhash", "jaccard"])
def test_minhash_index_ingest_idempotent_replay(spark, tmp_path, family):
    """Deterministic pins for the index-ingest foreachBatch's two
    idempotency mechanisms, for all three index families (STREAMCHECK
    legs 10-12 exercise a random kill; this pins the exact windows):
    (a) a replayed batch_id whose marker exists is a full no-op — the
    index does not grow; (b) the TORN window (extend committed, marker
    not — simulated by deleting the marker) re-runs the batch: pair
    output is identical (overwrite partition + anti-join of own ids +
    probe-side pair dedup) even though the index now holds duplicate
    rows for that batch."""
    import shutil

    from pyspark.sql import functions as F

    from rayforce_spark.datapipe import (
        set_jaccard_index,
        set_minhash_index,
        set_simhash_index,
    )
    from rayforce_spark.streaming import ops

    docs = [(i, f"alpha beta gamma delta epsilon doc{i % 4}")
            for i in range(12)]
    old = spark.createDataFrame(docs[:8], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100 + i, t) for i, t in ((i, d[1]) for i, d in enumerate(docs[8:]))],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    # (build, ingest callable, pair metric, candidate leg)
    set_fn, fn, metric, leg = {
        "minhash": (
            lambda: set_minhash_index(old, idx, "text", "doc_id",
                                      num_perm=16, bands=16, shingle_k=1),
            lambda: ops.stream_minhash_index_ingest(
                idx, pairs, "text", "doc_id", threshold=0.5),
            "jaccard", "buckets"),
        "simhash": (
            lambda: set_simhash_index(old, idx, "text", "doc_id"),
            lambda: ops.stream_simhash_index_ingest(
                idx, pairs, "text", "doc_id"),
            "hamming", "banded"),
        "jaccard": (
            lambda: set_jaccard_index(old, idx, "text", "doc_id",
                                      shingle_k=1, threshold=0.5),
            lambda: ops.stream_jaccard_index_ingest(
                idx, pairs, "text", "doc_id"),
            "jaccard", "prefixes"),
    }[family]
    set_fn()
    fn = fn()

    def snap():
        got = spark.read.parquet(pairs).select("id_a", "id_b", metric)
        return {tuple(r) for r in got.collect()}

    def index_rows():
        return spark.read.parquet(f"{idx}/{leg}").count()

    fn(batch, 7)
    want, n_idx = snap(), index_rows()
    assert want, "fixture must produce pairs"
    # (a) marker exists -> full no-op
    fn(batch, 7)
    assert snap() == want and index_rows() == n_idx
    # (b) torn window: extend committed but marker lost -> replay
    # re-extends (index rows duplicate for the batch, tolerated) and
    # rewrites the SAME pair partition
    shutil.rmtree(f"{idx}/_batches/batch-7")
    fn(batch, 7)
    assert snap() == want
    assert index_rows() > n_idx  # the documented bounded cost
    # later probes over the duplicated index stay duplicate-free
    probe = spark.createDataFrame(
        [(200, docs[0][1])], "doc_id long, text string")
    fn(probe, 8)
    out = spark.read.parquet(pairs).filter(F.col("batch") == 8)
    rows = [tuple(r) for r in out.select("id_a", "id_b").collect()]
    assert len(rows) == len(set(rows)) and rows


def test_index_ingest_carries_handles_across_batch_sessions(spark, tmp_path):
    """PySpark hands each foreachBatch micro-batch a new Python
    SparkSession object over the query's one JVM session. The ingest
    hands its one set of index handles to every wrapper, so a batch
    on a fresh wrapper launches exactly the jobs of the same batch on
    the first batch's session object: no ``_meta`` re-read and no leg
    schema inference."""
    from pyspark.sql import SparkSession

    from rayforce_spark.datapipe import set_minhash_index
    from rayforce_spark.streaming.ops import stream_minhash_index_ingest
    from tests.conftest import jobs_of

    schema = "doc_id long, text string"
    docs = [(i, f"alpha beta gamma delta doc{i % 3}") for i in range(6)]
    old = spark.createDataFrame(docs[:4], schema)
    counts = []
    for tag, wrap in (("same", False), ("fresh", True)):
        idx = str(tmp_path / tag / "idx")
        set_minhash_index(old, idx, "text", "doc_id", num_perm=16, bands=8)
        fn = stream_minhash_index_ingest(idx, str(tmp_path / tag / "p"),
                                         "text", "doc_id", threshold=0.5)
        fn(spark.createDataFrame(docs[4:5], schema), 0)
        s2 = (SparkSession(spark.sparkContext, spark._jsparkSession)
              if wrap else spark)
        batch = s2.createDataFrame(docs[5:], schema)
        _, jobs = jobs_of(spark, lambda: fn(batch, 1), f"carry-{tag}")
        counts.append(len(jobs))
    assert counts[0] == counts[1], counts
