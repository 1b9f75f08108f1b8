"""Dense-corpus emission guard (r12) + compaction lease tests.

The guard closes the AQE blind spot as a CLASS (r11 verdict #1): AQE
sizes exchanges from map bytes and cannot see quadratic candidate
emission, so duplicate-dense corpora single-tasked the pair generators'
candidate self-joins (three manual fixes across r10/r11). Each
generator now predicts its join emission with one cheap
count-per-bucket aggregate and reroutes to a rep-collapsed plan —
identical output (pinned here against the unguarded plan), quadratic
duplicate mass gone.

The lease tests enforce the compact↔extend concurrency contract
(r11 verdict #2): compaction holds ``_compacting`` for its
snapshot→rewrite→delete window; extends and probes raise while it is
held; streaming ingest's auto-compaction hook self-heals a crashed
compaction's leftover lease.
"""

import random

import pytest
from pyspark.sql import functions as F

import rayforce_spark.datapipe.dedup as dd
from rayforce_spark.datapipe.dedup import (
    _predicted_emission,
    jaccard_dup_pairs,
    minhash_lsh_pairs,
    simhash_dup_pairs,
)


@pytest.fixture(scope="module")
def dense_docs(spark):
    """A duplicate-DENSE corpus: 12 exact-dup groups of 15, 30 uniques,
    5 near-dup (one-word-mutated) pairs, 5 sub-shingle-length docs
    (empty shingle sets at k=3 — the null-Jaccard edge the collapse's
    within-group emission must also exclude)."""
    rng = random.Random(7)
    words = [f"w{i}" for i in range(200)]
    rows, did = [], 0
    for _ in range(12):
        base = " ".join(rng.choices(words, k=40))
        for _ in range(15):
            rows.append((did, base))
            did += 1
    for _ in range(30):
        rows.append((did, " ".join(rng.choices(words, k=40))))
        did += 1
    for _ in range(5):
        base = rng.choices(words, k=40)
        rows.append((did, " ".join(base)))
        did += 1
        mut = list(base)
        mut[3] = "zzz"
        rows.append((did, " ".join(mut)))
        did += 1
    for _ in range(5):
        rows.append((did, "a b"))
        did += 1
    return spark.createDataFrame(rows, "doc_id long, text string") \
        .localCheckpoint(eager=False)


def _pairset(df):
    return {(r[0], r[1], round(float(r[2]), 9)) for r in df.collect()}


def test_predicted_emission_exact(spark):
    # buckets of size 3, 2, 1 -> 3 + 1 + 0 unordered pairs
    b = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "z")],
        "id long, k string")
    assert _predicted_emission(b, ["k"]) == 4


def test_minhash_dense_guard_parity(dense_docs):
    kw = dict(num_perm=64, bands=16, shingle_k=3, threshold=0.5)
    sparse = minhash_lsh_pairs(dense_docs, "text", "doc_id",
                               guard="off", **kw)
    dense = minhash_lsh_pairs(dense_docs, "text", "doc_id",
                              guard="auto", dense_threshold=0, **kw)
    # the dense branch is structurally different (rep pairs ∪ within
    # pairs) — assert it actually engaged, then assert exact parity
    assert "Union" in dense._jdf.queryExecution().toString()
    assert "Union" not in sparse._jdf.queryExecution().toString()
    s, d = _pairset(sparse), _pairset(dense)
    assert s and s == d
    # every within-group pair of a 15-copy group must be present at 1.0
    assert (0, 1, 1.0) in d
    # sub-shingle-length docs (empty sets, null Jaccard) excluded
    empty_ids = set(range(dense_docs.count() - 5, dense_docs.count()))
    assert not any(a in empty_ids or b in empty_ids for a, b, _ in d)


def test_simhash_dense_guard_parity(dense_docs):
    mk = lambda g, t: simhash_dup_pairs(
        dense_docs, "text", "doc_id", max_hamming=8,
        guard=g, dense_threshold=t)
    s = {tuple(r) for r in mk("off", None).collect()}
    d = {tuple(r) for r in mk("auto", 0).collect()}
    assert s and s == d
    assert (0, 1, 0) in d  # within-group pairs carry hamming 0


def test_jaccard_prefix_dense_guard_parity(dense_docs):
    mk = lambda g, t: jaccard_dup_pairs(
        dense_docs, "text", "doc_id", shingle_k=1, threshold=0.5,
        guard=g, dense_threshold=t)
    s, d = _pairset(mk("off", None)), _pairset(mk("auto", 0))
    assert s and s == d


def test_jaccard_plain_dense_reroute(spark):
    """The unindexed (k>=2) path's sampled detector reroutes a
    duplicate-dense corpus to the prefix+collapse plan (Union in the
    plan) with identical output. 300 copies of one doc + uniques: any
    5% doc sample contains duplicates, so the trigger is robust."""
    rng = random.Random(11)
    words = [f"w{i}" for i in range(100)]
    base = " ".join(rng.choices(words, k=30))
    rows = [(i, base) for i in range(300)]
    rows += [(300 + i, " ".join(rng.choices(words, k=30)))
             for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(shingle_k=3, threshold=0.5)
    sparse = jaccard_dup_pairs(docs, "text", "doc_id", guard="off", **kw)
    dense = jaccard_dup_pairs(docs, "text", "doc_id", guard="auto",
                              dense_threshold=0, **kw)
    assert "Union" in dense._jdf.queryExecution().toString()
    assert _pairset(sparse) == _pairset(dense)


def test_dense_guard_auto_stays_sparse_on_small_corpus(tables):
    """Default threshold: the sf0.001 documents table is far below
    2M predicted candidates, so guard="auto" must return the SPARSE
    plan (no Union) — the plan pin that the normal-corpus path is
    unchanged by the guard."""
    d = tables["documents"].select("doc_id", "text")
    out = minhash_lsh_pairs(d, "text", "doc_id", num_perm=64, bands=16,
                            shingle_k=3, threshold=0.5)
    assert "Union" not in out._jdf.queryExecution().toString()


def test_compaction_lease_blocks_extend_and_probe(tables, tmp_path, spark):
    from rayforce_spark.datapipe import (
        compact_minhash_index,
        extend_minhash_index,
        minhash_index_pairs,
        set_minhash_index,
    )

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "leased")
    set_minhash_index(old, path, "text", "doc_id",
                      num_perm=32, bands=16, shingle_k=1)

    fs, lease = dd._lease(spark, path)
    fs.mkdirs(lease)  # simulate a compaction crashed mid-rewrite
    with pytest.raises(RuntimeError, match="compaction lease"):
        extend_minhash_index(batch, path, "text", "doc_id")
    with pytest.raises(RuntimeError, match="compaction lease"):
        minhash_index_pairs(path, batch, "text", "doc_id",
                            threshold=0.5).collect()
    # re-running the compaction finishes the job and clears the lease
    compact_minhash_index(spark, path)
    assert not fs.exists(lease)
    extend_minhash_index(batch, path, "text", "doc_id")
    assert minhash_index_pairs(path, batch, "text", "doc_id",
                               threshold=0.5, mode="reps").count() >= 0


def test_stream_ingest_auto_compaction(tables, tmp_path, spark):
    """compact_every in the ingest foreachBatch: the only caller for
    whom compaction is concurrency-safe by construction (serial
    micro-batches). After the Nth batch the legs are compacted; a
    leftover lease from a crashed compaction is self-healed before the
    next batch touches the index."""
    from rayforce_spark.datapipe import set_minhash_index
    from rayforce_spark.streaming.ops import stream_minhash_index_ingest

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 4 == 0)
    batches = [docs.filter(F.col("doc_id") % 4 == k) for k in (1, 2, 3)]
    path = str(tmp_path / "autocompact")
    pairs = str(tmp_path / "pairs")
    set_minhash_index(old, path, "text", "doc_id",
                      num_perm=32, bands=16, shingle_k=1)
    fn = stream_minhash_index_ingest(path, pairs, "text", "doc_id",
                                     threshold=0.5, compact_every=2)

    fs, lease = dd._lease(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path

    def files_in(leg):
        return sum(
            1 for f in fs.listStatus(jp(f"{path}/{leg}"))
            if f.isFile() and not f.getPath().getName().startswith(("_", "."))
        )

    fn(batches[0], 0)
    frag = files_in("buckets")
    fn(batches[1], 1)  # (1+1) % 2 == 0 -> compacts
    assert files_in("buckets") < frag
    assert not fs.exists(lease)
    # crashed-compaction self-heal: lease left behind, next batch clears
    # it (re-running the compaction) and still processes normally
    fs.mkdirs(lease)
    fn(batches[2], 2)
    assert not fs.exists(lease)
    assert fs.exists(jp(f"{path}/_batches/batch-2"))


def test_minhash_ingest_row_floor_parity(tables, tmp_path, spark,
                                         monkeypatch):
    """Below the dense guard's row floor (bucket rows = docs x bands)
    the guard always answers "sparse", so the ingest builds its
    intra-batch MinHash pairs from the batch's own bucket and shingle
    legs; at or above it the ingest calls the guarded
    minhash_lsh_pairs. With the floor patched to 0 the same ingest
    takes the guarded path, and both write identical pair partitions
    and index rows."""
    from rayforce_spark.datapipe import set_minhash_index
    from rayforce_spark.streaming.ops import stream_minhash_index_ingest

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 == 0)
    # each batch carries near-dup variants of its own docs, so the
    # intra-batch pairs are not empty
    batches = []
    for k in (1, 2):
        b = docs.filter(F.col("doc_id") % 3 == k)
        variants = b.limit(5).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat("text", F.lit(" variant")).alias("text"))
        batches.append(b.unionByName(variants).localCheckpoint())
    calls = []
    real = dd.minhash_lsh_pairs

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(dd, "minhash_lsh_pairs", spy)

    def run(tag):
        idx, pairs = str(tmp_path / tag / "idx"), str(tmp_path / tag / "p")
        set_minhash_index(old, idx, "text", "doc_id",
                          num_perm=32, bands=16, shingle_k=1)
        fn = stream_minhash_index_ingest(idx, pairs, "text", "doc_id",
                                         threshold=0.5)
        for i, b in enumerate(batches):
            fn(b, i)
        got = sorted(tuple(r) for r in spark.read.parquet(pairs).select(
            "batch", "id_a", "id_b", "jaccard").collect())
        legs = (sorted((r[0], tuple(sorted(r[1]))) for r in
                       spark.read.parquet(f"{idx}/shingles").collect()),
                sorted(tuple(r) for r in
                       spark.read.parquet(f"{idx}/buckets").collect()))
        return got, legs

    from_legs = run("legs")
    assert calls == []
    monkeypatch.setattr(dd, "_DENSE_GUARD_ROW_FLOOR", 0)
    guarded = run("guarded")
    assert len(calls) == len(batches)
    assert guarded == from_legs
    # every variant pairs with its source inside its own batch
    intra = [p for p in from_legs[0] if p[2] - p[1] == 10_000_000]
    assert len(intra) == 2 * 5, intra


def test_stamp_index_format_migrates_preversioning(tables, tmp_path, spark):
    """An unversioned simhash/jaccard _meta (written before format
    versioning existed) is unreadable by design; stamp_index_format
    stamps format 1 in place — the content IS format 1 (only minhash
    changed content in r10, and stamping minhash refuses)."""
    from rayforce_spark.datapipe import (
        set_simhash_index,
        simhash_index_pairs,
        stamp_index_format,
    )

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "prever")
    set_simhash_index(old, path, "text", "doc_id", max_hamming=3)
    want = {tuple(r) for r in
            simhash_index_pairs(path, batch, "text", "doc_id").collect()}

    # simulate a pre-versioning index: rewrite _meta without `format`
    meta = spark.read.parquet(f"{path}/_meta").drop("format")
    rows = meta.collect()  # materialize before overwriting its files
    spark.createDataFrame(rows, meta.schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{path}/_meta")
    spark.catalog.refreshByPath(f"{path}/_meta")
    with pytest.raises(ValueError, match="format"):
        simhash_index_pairs(path, batch, "text", "doc_id").collect()

    stamp_index_format(spark, path, "simhash")
    got = {tuple(r) for r in
           simhash_index_pairs(path, batch, "text", "doc_id").collect()}
    assert got == want
    with pytest.raises(ValueError, match="already"):
        stamp_index_format(spark, path, "simhash")
    with pytest.raises(ValueError, match="rebuild"):
        stamp_index_format(spark, path, "minhash")


def test_minhash_pin_branch_parity(spark):
    """The guard's third outcome: high emission with NO exact-dup mass
    (mutated near-dups share band buckets but have distinct shingle
    sets, so rep-collapse can't halve the join). The decision must be
    "pin" — the sparse join with an AQE-immune width repartition, no
    collapse Union — and the output must equal the unguarded plan."""
    rng = random.Random(23)
    words = [f"w{i}" for i in range(400)]
    rows, did = [], 0
    for _ in range(25):
        base = rng.choices(words, k=40)
        for c in range(12):  # 12 distinct mutations of each base
            mut = list(base)
            mut[c % len(mut)] = f"mut{c}"
            rows.append((did, " ".join(mut)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_perm=64, bands=16, shingle_k=3, threshold=0.5)
    sparse = minhash_lsh_pairs(docs, "text", "doc_id", guard="off", **kw)
    auto = minhash_lsh_pairs(docs, "text", "doc_id", guard="auto",
                             dense_threshold=0, **kw)
    plan = auto._jdf.queryExecution().toString()
    assert "Union" not in plan  # not the collapse branch
    # the pin is an explicit round-robin-free hash repartition on the
    # bucket column at cluster width
    assert "hashpartitioning(__bucket" in plan
    assert _pairset(sparse) == _pairset(auto)
