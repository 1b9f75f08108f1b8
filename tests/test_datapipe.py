"""Datapipe operators: dedup, similarity search, text analysis, multimodal
plumbing — the beyond-reference components (SURVEY §7 step 9)."""

from pyspark.sql import functions as F

from rayforce_spark.datapipe import (
    dedup_clusters,
    dedup_exact,
    dedup_keep_canonical,
    doc_fingerprint,
    embedding_dup_pairs,
    ivf_train,
    jaccard_dup_pairs,
    knn_cosine,
    knn_ivf,
    knn_lsh,
    language_id,
    minhash_lsh_pairs,
    quality_score,
    simhash_dup_pairs,
    token_count,
)
from rayforce_spark.datapipe.multimodal import (
    attach_binary,
    extract_features,
    resize_media,
    sample_frames,
)

from tests.conftest import assert_matches_duckdb


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "bb"), (5, "cc")],
        "doc_id long, text string",
    )
    kept = dedup_exact(df, ["text"], id_col="doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 5]


def test_dedup_clusters_chain_and_canonical(spark):
    # components: {1,2,3,4} (a CHAIN 1-2, 2-3, 3-4: the min label needs
    # three propagation rounds to reach node 4), {7,9}, singleton 5 (no
    # pair -> not in the cluster output, kept by dedup_keep_canonical)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 7)], "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 4, 5, 7, 9)],
        "doc_id long, text string",
    )
    kept = dedup_keep_canonical(docs, pairs, id_col="doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 5, 7]


def test_jaccard_pairs_exact_vs_duckdb(tables, duck):
    out = jaccard_dup_pairs(
        tables["documents"], "text", "doc_id", shingle_k=1, threshold=0.8
    ).withColumn("jaccard", F.round("jaccard", 6))
    assert_matches_duckdb(
        out, duck,
        """
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
          FROM documents
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1
        ), co AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
        """,
    )


def test_minhash_lsh_finds_near_dups(spark, monkeypatch):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base + " ok"),                      # near-dup of 1
        (3, "completely different words about spark engines and columnar io"),
        (4, base.replace("quick", "speedy")),   # near-dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", num_perm=64, bands=16, shingle_k=2,
        threshold=0.5,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 4) in got
    assert all(3 not in p for p in got)
    # the guard's candidate-width pin changes the plan, never the
    # verified pair set: dense_threshold=0 forces its "pin" branch on
    # these distinct-set near-dups (collapse would not halve emission)
    import rayforce_spark.datapipe.dedup as dd

    decisions, real = [], dd._dense_decision
    monkeypatch.setattr(dd, "_dense_decision", lambda *a, **k: (
        decisions.append(real(*a, **k)) or decisions[-1]))
    pinned = minhash_lsh_pairs(
        df, "text", "doc_id", num_perm=64, bands=16, shingle_k=2,
        threshold=0.5, dense_threshold=0,
    )
    assert decisions == ["pin"]
    assert {(r.id_a, r.id_b) for r in pinned.collect()} == got


def test_minhash_index_incremental_matches_full_run(tables, tmp_path, spark):
    """The persisted MinHash index is the incremental twin of
    minhash_lsh_pairs: probing a new batch against an index of the old
    corpus yields EXACTLY the full run's cross-batch pairs (same
    signature family and banding via the _meta sidecar -> identical
    buckets -> identical candidates -> identical exact verify), and
    extend + re-probe grows coverage to both earlier batches."""
    from rayforce_spark.datapipe import (
        extend_minhash_index, minhash_index_pairs, set_minhash_index)

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    kw = dict(num_perm=32, bands=16, shingle_k=1)
    full = minhash_lsh_pairs(docs, "text", "doc_id",
                             threshold=0.5, **kw).collect()
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in full
        if (r.id_a in old_ids) != (r.id_b in old_ids)  # cross pairs only
    }
    assert want, "fixture must contain cross-batch near-dups"
    path = str(tmp_path / "mh_idx")
    set_minhash_index(old, path, "text", "doc_id", **kw)
    got_rows = minhash_index_pairs(path, new, "text", "doc_id",
                                   threshold=0.5).collect()
    got = {(min(r.new_id, r.index_id), max(r.new_id, r.index_id),
            round(r.jaccard, 9)) for r in got_rows}
    assert got == want
    assert all(r.index_id in old_ids for r in got_rows)
    # ingest loop: extend with the new batch, probe a third batch — now
    # pairs land against BOTH earlier batches
    third = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text)
         for r in new.limit(3).collect()],
        "doc_id long, text string",
    )
    extend_minhash_index(new, path, "text", "doc_id")
    got3 = minhash_index_pairs(path, third, "text", "doc_id",
                               threshold=0.5).collect()
    # each copy must pair with its identical original (jaccard 1.0),
    # which lives in the EXTENDED part of the index
    copies = {r.doc_id for r in third.collect()}
    exact_hits = {(r.new_id, r.index_id) for r in got3
                  if r.jaccard == 1.0}
    for cid in copies:
        assert (cid, cid - 10_000_000) in exact_hits


def test_simhash_index_incremental_matches_full_run(tables, tmp_path, spark):
    """The persisted SimHash index mirrors the MinHash one (r10
    directive 4): probing a new batch against an index of the old
    corpus yields EXACTLY the full run's cross-batch pairs (identical
    fingerprint + banding via the _meta sidecar, both exact-recall by
    the pigeonhole bound), and extend + re-probe grows coverage to both
    earlier batches."""
    from rayforce_spark.datapipe import (
        extend_simhash_index, set_simhash_index, simhash_index_pairs)

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    kw = dict(max_hamming=8, bands=9)
    full = simhash_dup_pairs(docs, "text", "doc_id", **kw).collect()
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b, r.hamming) for r in full
        if (r.id_a in old_ids) != (r.id_b in old_ids)  # cross pairs only
    }
    assert want, "fixture must contain cross-batch simhash near-dups"
    path = str(tmp_path / "sh_idx")
    set_simhash_index(old, path, "text", "doc_id", **kw)
    got_rows = simhash_index_pairs(path, new, "text", "doc_id").collect()
    got = {(min(r.new_id, r.index_id), max(r.new_id, r.index_id),
            r.hamming) for r in got_rows}
    assert got == want
    assert all(r.index_id in old_ids for r in got_rows)
    # a tighter probe-side max_hamming filters without re-indexing
    tight = simhash_index_pairs(path, new, "text", "doc_id",
                                max_hamming=2).collect()
    assert {(r.new_id, r.index_id, r.hamming) for r in tight} == {
        (r.new_id, r.index_id, r.hamming) for r in got_rows
        if r.hamming <= 2}
    # >= stored bands breaks the pigeonhole guarantee -> loud error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bands"):
        simhash_index_pairs(path, new, "text", "doc_id", max_hamming=9)
    # ingest loop: extend with the new batch, probe a third batch — each
    # identical copy must pair at hamming 0 with its original, which
    # lives in the EXTENDED part of the index
    third = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text)
         for r in new.limit(3).collect()],
        "doc_id long, text string",
    )
    extend_simhash_index(new, path, "text", "doc_id")
    got3 = simhash_index_pairs(path, third, "text", "doc_id").collect()
    exact_hits = {(r.new_id, r.index_id) for r in got3 if r.hamming == 0}
    for r in third.collect():
        assert (r.doc_id, r.doc_id - 10_000_000) in exact_hits


def test_jaccard_index_incremental_matches_full_run(tables, tmp_path, spark):
    """The persisted Jaccard index is EXACT under incremental use (r10):
    probing a new batch against an index of the old corpus yields
    exactly the full run's cross-batch pairs — the frozen (df-at-build,
    tok) total order satisfies the AllPairs/PPJoin prefix theorem even
    though the full run sorts under a DIFFERENT (global-df) order; both
    are exact algorithms, so the verified outputs coincide."""
    from rayforce_spark.datapipe import (
        extend_jaccard_index, jaccard_index_pairs, set_jaccard_index)

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    thr = 0.5
    full = jaccard_dup_pairs(docs, "text", "doc_id", shingle_k=1,
                             threshold=thr).collect()
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in full
        if (r.id_a in old_ids) != (r.id_b in old_ids)
    }
    assert want, "fixture must contain cross-batch jaccard pairs"
    path = str(tmp_path / "jac_idx")
    set_jaccard_index(old, path, "text", "doc_id", shingle_k=1,
                      threshold=thr)
    got_rows = jaccard_index_pairs(path, new, "text", "doc_id").collect()
    got = {(min(r.new_id, r.index_id), max(r.new_id, r.index_id),
            round(r.jaccard, 9)) for r in got_rows}
    assert got == want
    assert all(r.index_id in old_ids for r in got_rows)
    # a TIGHTER probe threshold stays exact (stored prefixes are a
    # superset of what it needs); looser raises
    tight_rows = jaccard_index_pairs(path, new, "text", "doc_id",
                                     threshold=0.7).collect()
    tight = {(min(r.new_id, r.index_id), max(r.new_id, r.index_id),
              round(r.jaccard, 9)) for r in tight_rows}
    assert tight == {p for p in want if p[2] >= 0.7}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="below the index"):
        jaccard_index_pairs(path, new, "text", "doc_id", threshold=0.3)
    # ingest loop: extend with the new batch (frozen order — new-only
    # tokens rank df=0), probe identical copies: each must pair at
    # jaccard 1.0 with its original in the EXTENDED part
    third = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text) for r in new.limit(3).collect()],
        "doc_id long, text string",
    )
    extend_jaccard_index(new, path, "text", "doc_id")
    got3 = jaccard_index_pairs(path, third, "text", "doc_id").collect()
    exact_hits = {(r.new_id, r.index_id) for r in got3
                  if r.jaccard == 1.0}
    for r in third.collect():
        assert (r.doc_id, r.doc_id - 10_000_000) in exact_hits


def test_jaccard_index_max_doc_freq_frozen(spark, tmp_path):
    """max_doc_freq is FROZEN at index build: a probe drops exactly the
    tokens the BUILD saw above the cutoff (even though the stored dfreq
    keeps them — it must, or the probe would mistake build-time-hot
    tokens for unseen rare ones and sort them first), while genuinely
    unseen probe tokens rank df=0 and are kept."""
    from rayforce_spark.datapipe import jaccard_index_pairs, set_jaccard_index

    # "the" is hot at build (df 3 > cutoff 2); every other token rare
    old = spark.createDataFrame(
        [(1, "the quick brown fox"),
         (2, "the lazy dog sleeps"),
         (3, "the cat sat here")],
        "doc_id long, text string")
    path = str(tmp_path / "jac_mdf")
    set_jaccard_index(old, path, "text", "doc_id", shingle_k=1,
                      threshold=0.5, max_doc_freq=2)
    # probe doc shares ONLY the hot token with doc 3 -> no pair (the
    # hot token is dropped on BOTH sides); and shares 3/4 rare tokens
    # with doc 1 -> reduced sets {quick brown fox zzz} vs
    # {quick brown fox}: J = 3/4
    new = spark.createDataFrame(
        [(10, "the quick brown fox zzz")], "doc_id long, text string")
    got = {(r.new_id, r.index_id, round(r.jaccard, 6))
           for r in jaccard_index_pairs(path, new, "text",
                                        "doc_id").collect()}
    assert got == {(10, 1, 0.75)}


def test_index_probe_reps_mode(spark, tables, tmp_path):
    """mode='reps' is the pair-free probe output: one (new_id, rep_id)
    row per matched new doc, rep_id = smallest qualifying index id.
    Pinned two ways: (a) exact parity with mode='pairs' ∘ min on real
    data for all three families; (b) on a CANONICAL index with
    monotone ids — the day-2 invariant — rep assignment equals the
    dedup_clusters∘pairs component representative."""
    from rayforce_spark.datapipe import (
        dedup_clusters,
        jaccard_index_pairs,
        minhash_index_pairs,
        set_jaccard_index,
        set_minhash_index,
        set_simhash_index,
        simhash_index_pairs,
    )

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    fams = []
    p = str(tmp_path / "mh")
    set_minhash_index(old, p, "text", "doc_id", num_perm=32, bands=16,
                      shingle_k=1)
    fams.append(lambda m, p=p: minhash_index_pairs(
        p, new, "text", "doc_id", threshold=0.5, mode=m))
    p = str(tmp_path / "sh")
    set_simhash_index(old, p, "text", "doc_id", max_hamming=8, bands=9)
    fams.append(lambda m, p=p: simhash_index_pairs(
        p, new, "text", "doc_id", mode=m))
    p = str(tmp_path / "jc")
    set_jaccard_index(old, p, "text", "doc_id", shingle_k=1,
                      threshold=0.5)
    fams.append(lambda m, p=p: jaccard_index_pairs(
        p, new, "text", "doc_id", mode=m))
    for probe in fams:
        exp: dict = {}
        for r in probe("pairs").collect():
            exp[r.new_id] = min(exp.get(r.new_id, r.index_id), r.index_id)
        got = {r.new_id: r.rep_id for r in probe("reps").collect()}
        assert exp and got == exp

    # canonical index (no intra-index dups), monotone ids: reps ==
    # connected-component representatives of the probe's pair graph
    base = "alpha beta gamma delta epsilon zeta"
    other = "one two three four five six"
    idx_docs = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, base + " eta"), (11, base + " theta"),
         (20, other.replace("six", "seven"))],
        "doc_id long, text string")
    path = str(tmp_path / "canon")
    set_minhash_index(idx_docs, path, "text", "doc_id",
                      num_perm=64, bands=64, shingle_k=1)
    pairs = minhash_index_pairs(path, batch, "text", "doc_id",
                                threshold=0.5)
    want = {r.doc_id: r.cluster_id
            for r in dedup_clusters(pairs, id_a="new_id",
                                    id_b="index_id").collect()
            if r.doc_id >= 10}
    got = {r.new_id: r.rep_id
           for r in minhash_index_pairs(path, batch, "text", "doc_id",
                                        threshold=0.5,
                                        mode="reps").collect()}
    assert got == want == {10: 1, 11: 1, 20: 2}


def test_index_compaction_preserves_probes(tables, tmp_path, spark):
    """compact_*_index rewrites the per-batch appended parquet fragments
    into size-targeted files: probe output is IDENTICAL before/after,
    the data-file count drops, and a second compaction (the recovery
    path after a crash between the append and the deletes) is
    idempotent. This is the day-2 maintenance op continuous ingestion
    needs — extends append fragments forever otherwise (r10 verdict)."""
    from rayforce_spark.datapipe import (
        compact_jaccard_index,
        compact_minhash_index,
        compact_simhash_index,
        extend_jaccard_index,
        extend_minhash_index,
        extend_simhash_index,
        jaccard_index_pairs,
        minhash_index_pairs,
        set_jaccard_index,
        set_minhash_index,
        set_simhash_index,
        simhash_index_pairs,
    )

    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 4 == 1)
    batches = [docs.filter(F.col("doc_id") % 4 == k) for k in (2, 3)]
    probe = docs.filter(F.col("doc_id") % 4 == 0)

    fams = [
        ("minhash",
         lambda p: set_minhash_index(old, p, "text", "doc_id",
                                     num_perm=32, bands=16, shingle_k=1),
         lambda b, p: extend_minhash_index(b, p, "text", "doc_id"),
         lambda p: minhash_index_pairs(p, probe, "text", "doc_id",
                                       threshold=0.5),
         compact_minhash_index),
        ("simhash",
         lambda p: set_simhash_index(old, p, "text", "doc_id",
                                     max_hamming=3),
         lambda b, p: extend_simhash_index(b, p, "text", "doc_id"),
         lambda p: simhash_index_pairs(p, probe, "text", "doc_id"),
         compact_simhash_index),
        ("jaccard",
         lambda p: set_jaccard_index(old, p, "text", "doc_id",
                                     shingle_k=1, threshold=0.5),
         lambda b, p: extend_jaccard_index(b, p, "text", "doc_id"),
         lambda p: jaccard_index_pairs(p, probe, "text", "doc_id"),
         compact_jaccard_index),
    ]
    for name, set_fn, ext_fn, probe_fn, compact_fn in fams:
        path = str(tmp_path / name)
        set_fn(path)
        for b in batches:
            ext_fn(b, path)
        want = {tuple(r) for r in probe_fn(path).collect()}
        assert want, f"{name}: fixture must produce probe pairs"
        report = compact_fn(spark, path)
        assert sum(s["files_after"] for s in report.values()) < sum(
            s["files_before"] for s in report.values()), (name, report)
        got = {tuple(r) for r in probe_fn(path).collect()}
        assert got == want, name
        compact_fn(spark, path)  # idempotent re-run (crash recovery)
        assert {tuple(r) for r in probe_fn(path).collect()} == want, name


def test_index_format_version_gate(spark, tmp_path):
    """A _meta sidecar without (or with a different) on-disk format
    version must fail LOUDLY at probe time: r10 changed minhash band
    buckets from 32-bit hash() to xxhash64, and a stale-format index
    would not error — it would silently return an empty pair set
    (probe buckets never match stored ones). The version gate converts
    wrong-empty into a ValueError naming the rebuild."""
    import pytest as _pytest

    from rayforce_spark.datapipe import (
        jaccard_index_pairs,
        minhash_index_pairs,
        set_jaccard_index,
        set_minhash_index,
        set_simhash_index,
        simhash_index_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb cc ee")],
        "doc_id long, text string")
    for fam, set_fn, probe_fn in [
        ("minhash", set_minhash_index, minhash_index_pairs),
        ("simhash", set_simhash_index, simhash_index_pairs),
        ("jaccard", set_jaccard_index, jaccard_index_pairs),
    ]:
        path = str(tmp_path / fam)
        set_fn(docs, path, "text", "doc_id")
        probe_fn(path, docs, "text", "doc_id").collect()  # fresh = fine
        # simulate a pre-versioning index: strip the format column
        # (materialize before overwriting the dir being read)
        meta = (spark.read.parquet(f"{path}/_meta").drop("format")
                .localCheckpoint(eager=True))
        meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")
        with _pytest.raises(ValueError, match="format"):
            probe_fn(path, docs, "text", "doc_id")


def test_index_reads_checked_in_older_indexes(spark, tmp_path):
    """tests/fixtures/index_format holds a tiny index of each family
    written by the code before the shared index core, with that code's
    probe pairs (expected.json). The on-disk format is unchanged: the
    current code probes each to the same pairs, then extends and
    compacts it and probes a second batch to the same pairs too."""
    import json
    import os
    import shutil

    from rayforce_spark.datapipe import dedup as D

    src = os.path.join(os.path.dirname(__file__), "fixtures", "index_format")
    with open(os.path.join(src, "expected.json")) as f:
        exp = json.load(f)
    schema = "doc_id long, text string"
    batch = spark.createDataFrame([tuple(r) for r in exp["probe"]], schema)
    later = spark.createDataFrame(
        [tuple(r) for r in exp["probe_after_extend"]], schema)
    probes = {
        "minhash": lambda p, d: D.minhash_index_pairs(
            p, d, "text", "doc_id", threshold=0.5),
        "simhash": lambda p, d: D.simhash_index_pairs(p, d, "text", "doc_id"),
        "jaccard": lambda p, d: D.jaccard_index_pairs(p, d, "text", "doc_id"),
    }
    for fam, probe in probes.items():
        path = str(tmp_path / fam)
        shutil.copytree(os.path.join(src, fam), path)
        got = sorted(list(r) for r in probe(path, batch).collect())
        assert got == exp[fam]["probe"], fam
        getattr(D, f"extend_{fam}_index")(batch, path, "text", "doc_id")
        getattr(D, f"compact_{fam}_index")(spark, path)
        got = sorted(list(r) for r in probe(path, later).collect())
        assert got == exp[fam]["probe_after_extend"], fam


def test_minhash_index_other_sig_family_fails_loudly(spark, tmp_path):
    """A minhash index whose _meta names a signature family other than
    the expression fold has buckets this build cannot reproduce: probe
    and extend must raise naming the value and the rebuild, not
    silently lose recall (on a copy of the checked-in fixture)."""
    import os
    import shutil

    import pytest as _pytest

    from rayforce_spark.datapipe import (
        extend_minhash_index, minhash_index_pairs)

    path = str(tmp_path / "minhash")
    shutil.copytree(os.path.join(os.path.dirname(__file__), "fixtures",
                                 "index_format", "minhash"), path)
    meta = spark.read.parquet(f"{path}/_meta")
    rows = [r.asDict() | {"sig_impl": "numpy"} for r in meta.collect()]
    spark.createDataFrame(rows, meta.schema).write.mode(
        "overwrite").parquet(f"{path}/_meta")
    batch = spark.createDataFrame([(9, "aa bb")], "doc_id long, text string")
    for call in (lambda: minhash_index_pairs(path, batch, "text", "doc_id"),
                 lambda: extend_minhash_index(batch, path, "text", "doc_id")):
        with _pytest.raises(ValueError, match="'numpy'.*set_minhash_index"):
            call()


def test_index_handle_second_probe_build_reads_no_metadata(spark, tmp_path):
    """Each index has a per-session handle holding its ``_meta`` row and
    its stored legs' schemas, keyed by a stamp of ``_meta``'s files:
    building a second probe DataFrame on an unchanged index reads no
    index metadata, and gives the same pairs. For minhash and simhash
    that build launches no Spark job at all. For jaccard it does not
    reach zero: its sorted-docs leg is a lazy localCheckpoint over a
    join and an aggregate, and under AQE that call runs its exchange
    stages at once, so the build still launches the jobs of building
    the batch's legs alone, and this test pins only that. A new session
    starts with no handles, so its first build reads again."""
    from rayforce_spark.datapipe import (
        jaccard_index_pairs,
        minhash_index_pairs,
        set_jaccard_index,
        set_minhash_index,
        set_simhash_index,
        simhash_index_pairs,
    )
    from rayforce_spark.datapipe import dedup as D
    from tests.conftest import jobs_of

    rows = [(1, "aa bb cc dd ee"), (2, "aa bb cc dd ff"), (3, "xx yy zz")]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    other = spark.newSession()
    other_docs = other.createDataFrame(rows, schema)
    for fam, spec, set_fn, probe_fn in [
        ("minhash", D._MINHASH, set_minhash_index, minhash_index_pairs),
        ("simhash", D._SIMHASH, set_simhash_index, simhash_index_pairs),
        ("jaccard", D._JACCARD, set_jaccard_index, jaccard_index_pairs),
    ]:
        path = str(tmp_path / fam)
        set_fn(docs, path, "text", "doc_id")
        first, first_jobs = jobs_of(
            spark, lambda: probe_fn(path, docs, "text", "doc_id"),
            f"handle-{fam}-first")
        again, again_jobs = jobs_of(
            spark, lambda: probe_fn(path, docs, "text", "doc_id"),
            f"handle-{fam}-again")
        _, legs_jobs = jobs_of(
            spark, lambda: spec.batch_legs(
                docs, "text", "doc_id", path,
                D._read_meta(spec, spark, path)),
            f"handle-{fam}-legs")
        assert first_jobs, fam
        assert len(again_jobs) == len(legs_jobs), fam
        assert fam == "jaccard" or again_jobs == [], fam
        assert sorted(again.collect()) == sorted(first.collect()), fam
        _, other_jobs = jobs_of(
            other, lambda: probe_fn(path, other_docs, "text", "doc_id"),
            f"handle-{fam}-other")
        assert other_jobs, fam


def test_embedding_block_scorer_mixed_vector_lengths(spark):
    """Vectors of different lengths have a null ``expr`` cosine, so they
    never pair: the block scorer scores each length's vectors among
    themselves and returns exactly the expr pairs, where stacking them
    together used to raise."""
    e = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, -0.05 * i]) for i in range(4)]
        + [(4, [1.0, 0.2]), (5, [0.9, 0.3])],
        "vec_id long, embedding array<double>")

    def pairs(impl, **kw):
        return {(r.id_a, r.id_b): r.cos for r in embedding_dup_pairs(
            e, "embedding", "vec_id", threshold=-2.0, impl=impl,
            **kw).collect()}

    ex = pairs("expr")
    assert len(ex) == 6 + 1 and (4, 5) in ex
    assert pairs("block", nblocks=3) == ex


def test_arrow_default_fails_fast_when_missing(spark, monkeypatch):
    """The LSH keys, IVF assignment, simhash fingerprint and repetition
    stats run only as Arrow UDFs; with pyarrow absent they must fail
    with a DRIVER-side ImportError at plan-build time (PySpark's own
    check), not an opaque worker-side stack trace mid-job."""
    import sys

    import pytest as _pytest

    from rayforce_spark.datapipe import repetition_stats
    from rayforce_spark.datapipe.dedup import simhash_fingerprint_numpy
    from rayforce_spark.datapipe.similarity import (
        _bucket_structs, _nearest_pandas)

    monkeypatch.setitem(sys.modules, "pyarrow", None)
    for build in (
            lambda: _bucket_structs("__v", dim=4, planes=2, tables=1, seed=1),
            lambda: _nearest_pandas([[0.0, 0.0]], 1),
            lambda: simhash_fingerprint_numpy(63),
            lambda: repetition_stats(F.col("text"))):
        with _pytest.raises(ImportError, match="PyArrow"):
            build()


def test_block_margin_high_dim_matches_expr(spark):
    """The BLAS-preselect margin is derived from dim (r10 ADVICE: a
    fixed 1e-3 was only proven to dim ~2000): at dim=2500 the block
    scorer must still emit exactly the expression path's pairs, with
    bit-equal cosines."""
    import random

    random.seed(3)
    dim = 2500
    rows = []
    for i in range(6):
        v = [random.uniform(-0.002, 0.002) for _ in range(dim)]
        if i % 2:  # make near-dups of the previous row
            v = [x + random.uniform(-0.0001, 0.0001)
                 for x in rows[-1][1]]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    want = {(r.id_a, r.id_b, r.cos) for r in embedding_dup_pairs(
        df, "v", "id", threshold=0.9, impl="expr").collect()}
    got = {(r.id_a, r.id_b, r.cos) for r in embedding_dup_pairs(
        df, "v", "id", threshold=0.9, impl="block").collect()}
    assert want and got == want


def test_minhash_shared_shingles_same_pairs(spark, tables):
    # r13: a caller-provided checkpointed shingle frame (the shared-
    # subtree spelling q_dedup_minhash uses for its two pipelines) must
    # reproduce the default recompute path's pair set exactly, also
    # through the dense-collapse branch
    from rayforce_spark.datapipe.dedup import fanout, with_shingle_hashes

    d = tables["documents"].limit(300)
    sh = (with_shingle_hashes(
            fanout(d.select(F.col("doc_id").alias("__id"),
                            F.col("text").alias("__text"))),
            "__text", 3, "__bh")
          .select("__id", "__bh").localCheckpoint(eager=False))
    kw = dict(num_perm=32, bands=32, shingle_k=3, threshold=0.5)
    want = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
            minhash_lsh_pairs(d, "text", "doc_id", **kw).collect()}
    got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
           minhash_lsh_pairs(d, "text", "doc_id", shingles=sh,
                             **kw).collect()}
    assert want and got == want
    # dense-collapse branch consumes the shared frame too
    dense = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
             minhash_lsh_pairs(d, "text", "doc_id", dense_threshold=1,
                               **kw).collect()}
    dense_sh = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                minhash_lsh_pairs(d, "text", "doc_id", dense_threshold=1,
                                  shingles=sh, **kw).collect()}
    assert dense == dense_sh == want


def test_simhash_fp_numpy_bit_equal(spark, tables):
    """The Arrow fingerprint (simhash's only path) must be BIT-EQUAL to
    the 63-aggregate grouped plan for both token-hash families,
    including edge docs: empty/whitespace text yields one '' token on
    both paths, null text is dropped on both (explode vs the size()>0
    filter)."""
    from rayforce_spark.datapipe.dedup import _simhash_grouped, simhash

    docs = tables["documents"].limit(400).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9000001, ""), (9000002, "   "), (9000003, "one"),
         (9000004, None), (9000005, "a b c a b")],
        "doc_id long, text string")
    d = docs.unionByName(edge)
    for th in ("xxhash64", "md5"):
        want = {r.doc_id: r.simhash for r in _simhash_grouped(
            d, "text", "doc_id", token_hash=th).collect()}
        got = {r.doc_id: r.simhash for r in simhash(
            d, "text", "doc_id", token_hash=th).collect()}
        assert 9000004 not in got and len(got) == 404
        assert got == want


def test_simhash_dup_pairs(spark):
    base = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "unrelated tiny doc")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b) for r in
           simhash_dup_pairs(df, "text", "doc_id", max_hamming=3).collect()}
    assert got == {(1, 2)}


def test_simhash_canonical_band_no_duplicate_pairs(spark):
    # r9 self-join rewrite: a near-identical pair agrees in MANY bands
    # (identical docs agree in all of them) but must be emitted exactly
    # once — by the first agreeing band — with no dropDuplicates pass
    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, base) for i in range(8)]           # 8 identical docs
    rows += [(100 + i, base + f" x{i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = simhash_dup_pairs(df, "text", "doc_id", max_hamming=8).collect()
    pairs = [(r.id_a, r.id_b) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    # the 8 identical docs form a full clique at hamming 0
    clique = {(a, b) for a in range(8) for b in range(8) if a < b}
    assert clique <= set(pairs)
    assert all(r.id_a < r.id_b for r in out)
    assert all(r.hamming <= 8 for r in out)


def test_embedding_dup_pairs(tables, duck):
    out = embedding_dup_pairs(
        tables["embeddings"], "embedding", "vec_id", threshold=0.4
    ).withColumn("cos", F.round("cos", 6))
    assert out.count() > 0
    assert_matches_duckdb(
        out, duck,
        """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.4
        """,
    )


def test_knn_cosine_vs_duckdb(tables, duck):
    queries = tables["embeddings"].filter(F.col("vec_id") < 3)
    out = knn_cosine(
        tables["embeddings"], queries, "embedding", "vec_id", k=5
    ).withColumn("cos", F.round("cos", 6))
    assert_matches_duckdb(
        out, duck,
        """
        SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rank
          FROM embeddings q JOIN embeddings c ON q.vec_id < 3
        ) WHERE rank <= 5
        """,
    )


def test_knn_lsh_recall(tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine(emb, queries, "embedding", "vec_id", k=5)
    approx = knn_lsh(
        emb, queries, "embedding", "vec_id", k=5, dim=64,
        planes=6, tables=8,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def _bucket_structs_expr(vec_name, *, dim, planes, tables, seed):
    """similarity._bucket_structs spelled as one pure-JVM _bucket_key
    fold per table: the reference the Arrow keys are pinned against."""
    from rayforce_spark.datapipe.similarity import _bucket_key, _hyperplanes

    return F.array(*[F.struct(F.lit(t).alias("tbl"), _bucket_key(
        vec_name, _hyperplanes(dim, planes, t, seed)).alias("key"))
        for t in range(tables)])


def test_lsh_bucket_keys_pandas_bit_equal(tables, spark):
    """The Arrow bucket keys are BIT-identical to the JVM expression
    fold on every corpus vector (sequential-accumulation rounding
    argument in _bucket_keys_pandas' docstring; this is the empirical
    pin), and key degenerate inputs (null vector, wrong length) to 0
    exactly like the fold's null story."""
    from rayforce_spark.datapipe.similarity import _bucket_structs

    kw = dict(dim=64, planes=5, tables=7, seed=123)
    weird = spark.createDataFrame(
        [(1, None), (2, [0.5, -0.25]), (3, [0.0] * 70)],
        "vec_id long, embedding array<double>")
    for df in (tables["embeddings"].select("vec_id", "embedding"), weird):
        rows = df.select(
            "vec_id",
            _bucket_structs_expr("embedding", **kw).alias("e"),
            _bucket_structs("embedding", **kw).alias("p"),
        ).collect()
        assert rows
        for r in rows:
            assert [x.asDict() for x in r.e] == [x.asDict() for x in r.p]
    assert all(x.key == 0 for r in rows for x in r.p)


def test_lsh_bucket_keys_nan_bit_equal(spark):
    """r10 NaN contract: a NaN-poisoned embedding element keys
    IDENTICALLY on the expr and Arrow paths. Spark orders NaN above
    every number, so the poisoned dot's CASE NaN >= 0 is TRUE and the
    plane bit is set; the twin reproduces that with an explicit
    isnan-or (a plain numpy >= silently read the bit as 0 before —
    the silent recall divergence VERDICT r9 item 4 flagged)."""
    from rayforce_spark.datapipe.similarity import _bucket_structs

    kw = dict(dim=4, planes=5, tables=3, seed=99)
    nan = float("nan")
    weird = spark.createDataFrame(
        [(1, [nan, 0.5, -0.25, 1.0]),       # one poisoned element
         (2, [nan, nan, nan, nan]),         # fully poisoned
         (3, [0.5, -0.5, 0.25, -0.25]),     # clean control
         (4, [float("inf"), 1.0, -1.0, float("-inf")])],
        "id long, embedding array<double>",
    )
    rows = weird.select(
        "id",
        _bucket_structs_expr("embedding", **kw).alias("e"),
        _bucket_structs("embedding", **kw).alias("p"),
    ).collect()
    for r in rows:
        assert [x.asDict() for x in r.e] == [x.asDict() for x in r.p]
    # a NaN dot sets EVERY plane bit on both paths: all-ones key
    nan_row = next(r for r in rows if r.id == 2)
    assert all(x.key == (1 << 5) - 1 for x in nan_row.p)


def test_lsh_nested_vec_col(spark):
    """The public vec_col contract includes dotted/nested references
    (r9 advice item 1): entry points resolve vec_col through F.col into
    an internal top-level alias BEFORE any SQL-text builder quotes a
    name, so "meta.emb" works end to end and matches the same data
    passed as a top-level column."""
    from rayforce_spark.datapipe.similarity import knn_lsh

    flat = spark.createDataFrame(
        [(i, [0.1 * i, 1.0 - 0.05 * i, 0.3, -0.2]) for i in range(20)],
        "vec_id long, emb array<double>")
    nested = flat.select(
        "vec_id", F.struct(F.col("emb").alias("emb")).alias("meta"))
    kw = dict(k=3, dim=4, planes=2, tables=4, seed=7)
    want = {(r.query_id, r.neighbor_id, r.rank) for r in knn_lsh(
        flat, flat.limit(3), "emb", "vec_id", **kw).collect()}
    got = {(r.query_id, r.neighbor_id, r.rank) for r in knn_lsh(
        nested, nested.limit(3), "meta.emb", "vec_id", **kw).collect()}
    assert want and got == want


def test_ivf_nearest_nan_bit_equal(spark):
    """r10 NaN contract for the IVF assignment twin: NaN distances rank
    identically on both paths — NaN sorts LAST (Spark: NaN above every
    number; numpy: stable argsort pushes NaN to the end), and all-NaN
    rows tie-break to ascending centroid index on both (Spark struct
    compare treats NaN == NaN then compares i; stable argsort keeps
    input order)."""
    from rayforce_spark.datapipe.similarity import _nearest, _nearest_pandas

    nan = float("nan")
    # centroid 1 is itself NaN-poisoned: finite vectors get exactly one
    # NaN distance, which must rank LAST on both paths
    cents = [[0.0, 0.0], [nan, 0.0], [1.0, 1.0], [2.0, 2.0]]
    weird = spark.createDataFrame(
        [(1, [0.1, 0.1]),     # finite: NaN centroid ranks last
         (2, [nan, 0.5]),     # poisoned vector: all distances NaN
         (3, [2.1, 1.9])],
        "id long, embedding array<double>")
    rows = weird.select(
        "id",
        _nearest("embedding", cents, 4).alias("e"),
        _nearest_pandas(cents, 4)(F.col("embedding")).alias("p"),
    ).collect()
    for r in rows:
        assert list(r.e) == list(r.p)
    assert list(next(r for r in rows if r.id == 1).p) == [0, 2, 3, 1]
    assert list(next(r for r in rows if r.id == 2).p) == [0, 1, 2, 3]


def test_ivf_nearest_pandas_bit_equal(tables, spark):
    """The Arrow nearest-centroid twin ranks BIT-identically to the JVM
    expression path on every corpus vector (sequential squared-distance
    accumulation + stable argsort = the fold's (distance, index)
    lexicographic order), and degenerate rows (null vector, wrong
    length) yield [0..nprobe-1] exactly like the expr path's all-null
    distance tie-break."""
    from rayforce_spark.datapipe.similarity import _nearest, _nearest_pandas

    cents = [[0.01 * i + 0.001 * d for d in range(64)] for i in range(9)]
    weird = spark.createDataFrame(
        [(1, None), (2, [0.5, -0.25])], "vec_id long, embedding array<double>")
    for df in (tables["embeddings"].select("vec_id", "embedding"), weird):
        rows = df.select(
            _nearest("embedding", cents, 3).alias("e"),
            _nearest_pandas(cents, 3)(F.col("embedding")).alias("p"),
        ).collect()
        assert rows and all(list(r.e) == list(r.p) for r in rows)
    assert all(list(r.p) == [0, 1, 2] for r in rows)


def test_ivf_train_deterministic_and_bounded_jobs(tables, spark):
    # r13: Lloyd's moved driver-side — training must (a) stay exactly
    # reproducible run-to-run (hash-pinned sample, fixed-order numpy
    # accumulation), and (b) run as a BOUNDED number of Spark jobs
    # (sizing count + the one sample collect; the old shape paid 2 jobs
    # per iteration and grew with iters)
    emb = tables["embeddings"]
    st = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("ivf_det_a", "train A")
    a = ivf_train(emb, "embedding", "vec_id", nlist=8, iters=3)
    spark.sparkContext.setJobGroup("ivf_det_b", "train B")
    b = ivf_train(emb, "embedding", "vec_id", nlist=8, iters=3)
    spark.sparkContext.setJobGroup("ivf_det_c", "train C, more iters")
    c = ivf_train(emb, "embedding", "vec_id", nlist=8, iters=7)
    spark.sparkContext.setJobGroup("ivf_det_other", "outside")
    assert a == b
    assert len(c) == len(a)
    ja = st.getJobIdsForGroup("ivf_det_a")
    jc = st.getJobIdsForGroup("ivf_det_c")
    assert 0 < len(ja) <= 3, ja
    # job count independent of iteration count (driver-side Lloyd)
    assert len(jc) == len(ja), (ja, jc)
    # corpus_rows skips the sizing count: strictly fewer jobs
    n = emb.count()
    spark.sparkContext.setJobGroup("ivf_det_d", "train D, known rows")
    d = ivf_train(emb, "embedding", "vec_id", nlist=8, iters=3,
                  corpus_rows=n)
    spark.sparkContext.setJobGroup("ivf_det_other", "outside")
    assert d == a
    assert len(st.getJobIdsForGroup("ivf_det_d")) < len(ja)


def test_ivf_train_arrow_sample_matches_row_path(tables, spark, monkeypatch):
    """The training sample is collected as one Arrow column; collecting
    the same sample as Python Rows must give bit-identical centroids,
    degenerate rows (null / wrong-length vectors) included."""
    import pyarrow as pa
    from pyspark.sql.classic.dataframe import DataFrame

    emb = tables["embeddings"].select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(10_001, None), (10_002, [1.0, 2.0])],
            "vec_id long, embedding array<float>"))
    got = ivf_train(emb, "embedding", "vec_id", nlist=8, iters=3)

    def rows_to_arrow(self):
        vecs = [r["__v"] for r in self.collect()]
        return pa.table({"__v": pa.array(vecs, pa.list_(pa.float64()))})

    monkeypatch.setattr(DataFrame, "toArrow", rows_to_arrow)
    want = ivf_train(emb, "embedding", "vec_id", nlist=8, iters=3)
    assert got and got == want


def test_knn_ivf_recall(tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_cosine(emb, queries, "embedding", "vec_id", k=5)
    approx = knn_ivf(
        emb, queries, "embedding", "vec_id", k=5, nlist=8, nprobe=3, iters=3,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_persisted_index_matches_inmemory(tables, tmp_path, spark):
    # r9: set_ivf persists centroids + the list-partitioned corpus;
    # knn_ivf_indexed probes the on-disk layout and must return exactly
    # what knn_ivf returns with the SAME centroids in memory (train
    # once, probe many across sessions); the data dir must actually be
    # partitioned by list for probe-side pruning
    import os

    from rayforce_spark.datapipe.similarity import (
        knn_ivf_indexed, load_ivf_centroids, set_ivf)

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_idx")
    cents = set_ivf(emb, path, "embedding", "vec_id", nlist=8, iters=3)
    assert load_ivf_centroids(spark, path) == cents
    assert any(d.startswith("__list=")
               for d in os.listdir(os.path.join(path, "data")))
    mem = knn_ivf(emb, queries, "embedding", "vec_id", k=5,
                  nprobe=3, centroids=cents)
    disk = knn_ivf_indexed(spark, path, queries, "embedding",
                           k=5, nprobe=3)
    m = {(r.query_id, r.neighbor_id, r.rank, round(r.cos, 9))
         for r in mem.collect()}
    d = {(r.query_id, r.neighbor_id, r.rank, round(r.cos, 9))
         for r in disk.collect()}
    assert m == d and m


def test_knn_cosine_double_matches_fixed(tables):
    # production double-scoring path returns the same top-k sets as the
    # oracle-exact fixed-point path (last-ulp drift never flips a rank
    # on real data)
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    fixed = knn_cosine(emb, queries, "embedding", "vec_id", k=5)
    dbl = knn_cosine(
        emb, queries, "embedding", "vec_id", k=5, score="double"
    )
    fx = {(r.query_id, r.neighbor_id, r.rank) for r in fixed.collect()}
    db = {(r.query_id, r.neighbor_id, r.rank) for r in dbl.collect()}
    assert fx == db


def test_ivf_highdim(spark):
    # dim-256 clustered vectors: the driver-side numpy Lloyd (r13)
    # handles high-dim training from the one bounded sample collect, and
    # probing all lists reproduces brute-force top-k
    import random

    rng = random.Random(7)
    dim, n_clusters, per = 256, 4, 50
    rows = []
    for c in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for i in range(per):
            rows.append(
                (c * per + i,
                 [x + rng.gauss(0, 0.05) for x in center])
            )
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin(0, 50, 100, 150))
    cents = ivf_train(df, "embedding", "vec_id", nlist=n_clusters, iters=3)
    assert len(cents) == n_clusters and len(cents[0]) == dim
    exact = knn_cosine(df, queries, "embedding", "vec_id", k=5)
    approx = knn_ivf(
        df, queries, "embedding", "vec_id", k=5,
        nlist=n_clusters, nprobe=2, centroids=cents,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_text_ops_vs_duckdb(tables, duck):
    docs = tables["documents"]
    out = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
        doc_fingerprint(F.col("text")).alias("fp"),
    )
    assert_matches_duckdb(
        out, duck,
        """
        SELECT doc_id,
               len(string_split(trim(lower(text)), ' ')) AS n_tok,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                                       '\\s+', ' ', 'g'))) AS fp
        FROM documents
        """,
    )


def test_language_id_and_quality(tables):
    docs = tables["documents"]
    out = docs.select(
        "doc_id",
        language_id(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert all(r.lang_guess in ("en", "de", "es", "fr", "und") for r in out)
    assert all(0.0 <= r.q <= 1.0 for r in out)
    # the synthetic corpus is English-ish word soup with 'the'/'a' present
    langs = {r.lang_guess for r in out}
    assert "en" in langs


def test_multimodal_plumbing(tables):
    media = attach_binary(tables["documents"].limit(20), "text", kind="image")
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r.features) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.features)
    # determinism: same bytes -> same features
    again = {r.media_id: r.features for r in extract_features(media, dim=8).collect()}
    assert all(again[r.media_id] == r.features for r in rows)

    vids = media.withColumn("duration_ms", F.lit(3500))
    frames = sample_frames(vids, every_ms=1000)
    per = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 4 for r in per)  # 0,1000,2000,3000

    small = resize_media(media, width=4, height=3)
    srows = small.collect()
    assert len(srows) == 20
    assert all(len(r.content) == 12 and r.width == 4 and r.height == 3
               for r in srows)
    # deterministic: same source bytes -> same resized bytes
    again = {r.media_id: bytes(r.content)
             for r in resize_media(media, width=4, height=3).collect()}
    assert all(again[r.media_id] == bytes(r.content) for r in srows)


def test_extract_features_arrow_edges(spark):
    # r13 (mapInArrow + zero-copy buffer slices): pin the edges the
    # offsets/validity handling must get right — null blob, empty blob,
    # multi-round md5 (dim > 16), undecodable stdlib bytes — and pin the
    # streaming-md5 spelling to the original concat spelling's values
    import hashlib

    rows = [(1, b"hello world"), (2, None), (3, b""), (4, b"x" * 100)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r for r in
           extract_features(df, dim=20).collect()}
    assert got[2].features is None and got[2].n_bytes is None
    assert got[3].n_bytes == 0 and len(got[3].features) == 20
    assert got[1].n_bytes == 11 and got[4].n_bytes == 100
    # reference: md5(content + ascii counter), digest bytes / 255
    for mid, content in ((1, b"hello world"), (3, b""), (4, b"x" * 100)):
        want = []
        counter = 0
        while len(want) < 20:
            d = hashlib.md5(content + str(counter).encode()).digest()
            want.extend(b / 255.0 for b in d)
            counter += 1
        assert got[mid].features == want[:20]
    # stdlib decoder: junk bytes quarantine to null features, n_bytes kept
    sl = {r.media_id: r for r in
          extract_features(df, dim=3, decoder="stdlib").collect()}
    assert sl[1].features is None and sl[1].n_bytes == 11
    assert sl[2].features is None and sl[2].n_bytes is None


def test_synthesize_media_vectorized_bit_identical(spark):
    # r13 (mapInArrow + whole-batch vectorization): the blobs must be
    # BIT-identical to the original per-row encode_bmp/encode_wav
    # spelling — same closed form, same header, same BGR/bottom-up/pad
    # layout — for any id whose id*13 stays in int64 (incl. negatives)
    import numpy as np

    from rayforce_spark.datapipe.codecs import encode_bmp, encode_wav
    from rayforce_spark.datapipe.multimodal import synthesize_media

    ids = [0, 1, 2, 255, 256, 12345, -1, -300, 2**40, -(2**40),
           (2**63 - 1) // 13 - 100]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    got_img = {r.doc_id: bytes(r.content) for r in
               synthesize_media(df, "doc_id", kind="image").collect()}
    got_wav = {r.doc_id: bytes(r.content) for r in
               synthesize_media(df, "doc_id", kind="audio").collect()}
    assert set(got_img) == set(ids) and set(got_wav) == set(ids)
    w, h, wav_n = 4, 6, 50
    for mid in ids:
        i = np.arange(w * h * 3, dtype=np.int64)
        px = ((mid * 7 + i) % 256).astype(np.uint8)
        assert got_img[mid] == encode_bmp(px.reshape(h, w, 3)), mid
        i = np.arange(wav_n, dtype=np.int64)
        s = ((mid * 13 + i) % 256).astype(np.uint8)
        assert got_wav[mid] == encode_wav(s, rate=8000, sampwidth=1), mid
    # non-default dims exercise the hoisted header/stride constants
    # (w*3 odd multiple -> nonzero BMP row padding)
    got = {r.doc_id: bytes(r.content) for r in
           synthesize_media(df.limit(3), "doc_id", kind="image",
                            image_wh=(3, 2)).collect()}
    for mid in got:
        i = np.arange(3 * 2 * 3, dtype=np.int64)
        px = ((mid * 7 + i) % 256).astype(np.uint8)
        assert got[mid] == encode_bmp(px.reshape(2, 3, 3))


def test_media_pipeline_under_arrow_large_var_types(spark):
    """With spark.sql.execution.arrow.useLargeVarTypes=true the
    mapInArrow stages get large_binary input; synthesize_media,
    extract_features and resize_media must return the same rows as
    with it off (coverage pin: no mismatch on Spark 4.1.2)."""
    from rayforce_spark.datapipe.multimodal import synthesize_media

    key = "spark.sql.execution.arrow.useLargeVarTypes"
    ids = spark.createDataFrame([(i,) for i in range(5)], "media_id long")

    def run(flag):
        spark.conf.set(key, flag)
        media = synthesize_media(ids, "media_id", kind="image")
        return [sorted(map(tuple, df.collect())) for df in (
            media, extract_features(media, dim=8, decoder="stdlib"),
            resize_media(media, width=2, height=3, decoder="stdlib"))]

    try:
        want, got = run("false"), run("true")
    finally:
        spark.conf.unset(key)
    assert [len(x) for x in want] == [5, 5, 5] and got == want


def test_resize_media_arrow_edges(spark):
    # r13 (mapInArrow): pin the offsets/validity edges — null blob,
    # empty blob (fake tier cycles b"\x00"), undecodable stdlib bytes
    # (quarantine to null) — and the stdlib tier against the
    # decode->resize_nearest->encode reference spelling
    import numpy as np

    from rayforce_spark.datapipe.codecs import (
        decode_bmp, encode_bmp, resize_nearest)

    px = (np.arange(5 * 4 * 3, dtype=np.int64) % 256).astype(
        np.uint8).reshape(4, 5, 3)
    bmp = encode_bmp(px)
    rows = [(1, b"abc"), (2, None), (3, b""), (4, bmp)]
    df = spark.createDataFrame(rows, "media_id long, content binary")

    fake = {r.media_id: r for r in
            resize_media(df, width=4, height=3).collect()}
    assert bytes(fake[1].content) == (b"abc" * 4)[:12]
    assert fake[2].content is None
    assert bytes(fake[3].content) == b"\x00" * 12
    assert all(r.width == 4 and r.height == 3 for r in fake.values())

    sl = {r.media_id: r for r in
          resize_media(df, width=2, height=2, decoder="stdlib").collect()}
    assert sl[1].content is None and sl[2].content is None \
        and sl[3].content is None
    want = encode_bmp(resize_nearest(decode_bmp(bmp), 2, 2))
    assert bytes(sl[4].content) == want


def _arrow_fn(monkeypatch, build):
    """The Python function a multimodal operator hands to mapInArrow,
    so a test can feed it hand-built Arrow batches directly."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = {}
    monkeypatch.setattr(DataFrame, "mapInArrow",
                        lambda self, fn, schema: seen.setdefault("fn", fn))
    build()
    return seen["fn"]


def test_media_ops_zero_row_batch_without_offsets(spark, monkeypatch):
    # a zero-row Arrow binary column may carry NO offsets buffer; the
    # operators must yield an empty batch, not fail in np.frombuffer
    import pyarrow as pa

    df = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()),
         pa.Array.from_buffers(pa.binary(), 0,
                               [None, None, pa.py_buffer(b"")])],
        names=["media_id", "content"])
    assert empty.column(1).buffers()[1] is None
    for build in (lambda: extract_features(df),
                  lambda: extract_features(df, decoder="stdlib"),
                  lambda: resize_media(df, width=2, height=2)):
        out = list(_arrow_fn(monkeypatch, build)(iter([empty])))
        assert len(out) == 1 and out[0].num_rows == 0


def test_synthesize_media_rejects_int32_offset_overflow(spark, monkeypatch):
    # Arrow binary offsets are int32: blob bytes past 2^31-1 in one batch
    # must raise, naming the parameters, before any buffer is allocated
    import pyarrow as pa
    import pytest

    from rayforce_spark.datapipe.multimodal import synthesize_media

    df = spark.createDataFrame([(1,)], "doc_id long")
    # one blob alone is too large: refused at the call, no job runs
    with pytest.raises(ValueError, match="wav_n=2147483648"):
        synthesize_media(df, "doc_id", kind="audio", wav_n=2**31)
    # 3000 blobs of 768 KiB: refused per batch, before the 2.4 GB batch
    fn = _arrow_fn(monkeypatch, lambda: synthesize_media(
        df, "doc_id", kind="image", image_wh=(512, 512)))
    ids = pa.RecordBatch.from_arrays([pa.array(range(3000), pa.int64())],
                                     names=["doc_id"])
    with pytest.raises(ValueError, match=r"3000 rows .*image_wh=\(512, 512\)"):
        next(fn(iter([ids])))


def test_extract_features_real_decoder_stub(tables):
    import pytest

    media = attach_binary(tables["documents"].limit(1), "text")
    with pytest.raises(NotImplementedError):
        extract_features(media, decoder="real")


def test_sessionize_batch(spark):
    from rayforce_spark.datapipe import sessionize_batch

    rows = [
        (1, 0.0, 1.0), (1, 10.0, 2.0), (1, 5000.0, 7.0),
        (2, 100.0, 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double, value double")
    out = {
        (r.user_id, r.session_seq): (r.session_start, r.session_end,
                                     r.n_events, r.sum_value)
        for r in sessionize_batch(
            df, key_col="user_id", ts_col="ts", gap=1800,
            aggs={"sum_value": F.sum("value")},
        ).collect()
    }
    assert out == {
        (1, 1): (0.0, 10.0, 2, 3.0),
        (1, 2): (5000.0, 5000.0, 1, 7.0),
        (2, 1): (100.0, 100.0, 1, 5.0),
    }


def test_simhash_bands_guard(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # bands <= max_hamming can miss pairs (pigeonhole violated) -> error
    with pytest.raises(ValueError):
        simhash_dup_pairs(df, "text", "doc_id", max_hamming=8, bands=4)
    # default bands = max_hamming+1 keeps exact recall at high distances
    base = " ".join(f"w{i}" for i in range(80))
    df2 = spark.createDataFrame(
        [(1, base), (2, base + " x y z q"), (3, "tiny unrelated")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.hamming for r in
           simhash_dup_pairs(df2, "text", "doc_id", max_hamming=12).collect()}
    assert (1, 2) in got


def test_jaccard_max_doc_freq(spark):
    # a stopword present in every doc would pair everything; the cutoff
    # drops it and Jaccard is recomputed over the reduced shingle sets
    rows = [
        (1, "the alpha beta"), (2, "the alpha beta"),
        (3, "the gamma delta"), (4, "the epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # without the cutoff 'the' makes every pair a candidate
    all_pairs = jaccard_dup_pairs(df, "text", "doc_id", threshold=0.2)
    assert all_pairs.count() == 6
    cut = jaccard_dup_pairs(
        df, "text", "doc_id", threshold=0.2, max_doc_freq=3
    ).collect()
    # only (1,2) share non-stopword shingles; jaccard over reduced sets = 1.0
    assert {(r.id_a, r.id_b) for r in cut} == {(1, 2)}
    assert cut[0].jaccard == 1.0


def test_jaccard_prefix_filter_equals_brute(spark):
    """The AllPairs/PPJoin prefix filter (incl. the positional suffix
    bound) is EXACT: identical pair set and jaccard values vs the brute
    inverted-index join, at thresholds that stress the integer ceil
    arithmetic (0.8*5 must round to 4, not 5) and the positional
    alpha = t/(1+t)*(sz_a+sz_b) bound (0.5 makes alpha exactly a third
    of the combined size)."""
    import random

    random.seed(17)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(200):
        rows.append((i, " ".join(random.choices(vocab,
                                                k=random.randint(3, 30)))))
    for i in range(200, 240):  # seeded near-dups (one word swapped)
        base = rows[i - 200][1].split()
        base[random.randrange(len(base))] = random.choice(vocab)
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8, 0.95):
        brute = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                 jaccard_dup_pairs(df, "text", "doc_id", threshold=t,
                                   prefix_filter=False).collect()}
        pref = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                jaccard_dup_pairs(df, "text", "doc_id", threshold=t,
                                  prefix_filter=True).collect()}
        assert pref == brute and brute


def test_jaccard_long_docs_no_int_overflow(spark):
    """The prefix/positional filter arithmetic multiplies sz by the
    1e6-grain threshold rationals — sz must be LONG: at t=0.95 an int32
    sz overflows past ~1100 distinct shingles (ANSI abort), which real
    web documents routinely exceed. Two 1300-token docs, one word
    apart, must pair at jaccard >= 0.95 without raising."""
    words = " ".join(f"w{i}" for i in range(1300))
    df = spark.createDataFrame(
        [(1, words), (2, words.replace("w7 ", "zz "))],
        "doc_id long, text string",
    )
    rows = jaccard_dup_pairs(df, "text", "doc_id", shingle_k=1,
                             threshold=0.95).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert rows[0].jaccard > 0.99


def test_ngram_counts_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the cat mat"), (2, "the cat sat"), (3, "one")],
        "doc_id long, text string",
    )
    from rayforce_spark.datapipe import ngram_counts

    rows = ngram_counts(df, "text", n=2, top_k=3).collect()
    assert [(r.ngram, r.n) for r in rows] == [
        ("the cat", 3), ("cat sat", 2), ("cat mat", 1)]


def test_filter_by_quality_quantile_ties_keep_top_block(spark):
    # two long high-quality docs tie; the short doc is the bottom half
    df = spark.createDataFrame(
        [(1, " ".join(["word"] * 60)), (2, " ".join(["word"] * 60)),
         (3, "x! x! x!")],
        "doc_id long, text string",
    )
    from rayforce_spark.datapipe import filter_by_quality_quantile

    kept = filter_by_quality_quantile(df, "text", q=0.5, global_ok=True)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_quantile_filters_guard_global_window(spark):
    # by=None single-partition-sorts the corpus — r8 guard: raise
    # loudly unless the caller opts in with global_ok=True
    import pytest as _pt

    from rayforce_spark.datapipe import filter_by_quality_quantile
    from rayforce_spark.datapipe.text import filter_by_lm_quantile

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pt.raises(ValueError, match="global"):
        filter_by_quality_quantile(df, "text", q=0.5)
    with _pt.raises(ValueError, match="global"):
        filter_by_lm_quantile(df, "text", "doc_id", q=0.5)
    # the opt-in still works on both
    assert filter_by_quality_quantile(
        df, "text", q=0.0, global_ok=True).count() == 1
    assert filter_by_lm_quantile(
        df, "text", "doc_id", q=1.0, global_ok=True).count() == 1


def test_scrub_pii_patterns(spark):
    from rayforce_spark.datapipe import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org call +1 (555) 123-4567 ip 10.0.0.7")],
        "doc_id long, text string",
    )
    out = df.select(scrub_pii(F.col("text")).alias("s")).collect()[0].s
    assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out
    assert "example" not in out and "555" not in out and "10.0.0.7" not in out


def _py_ngram_fracs(text: str, n: int) -> tuple[float, float]:
    # independent reference for top/dup n-gram occurrence fractions
    w = text.strip().lower().split()
    grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
    if not grams:
        return 0.0, 0.0
    from collections import Counter

    c = Counter(grams)
    top = max(c.values()) / len(grams)
    dup = sum(v for v in c.values() if v >= 2) / len(grams)
    return round(top, 6), round(dup, 6)


def test_repetition_fracs_hand_computed(spark):
    from rayforce_spark.datapipe import dup_ngram_frac, top_ngram_frac

    df = spark.createDataFrame(
        [(1, "a b a b a b"),            # 2-grams: "a b"x3 "b a"x2
         (2, "one two three four"),     # all 2-grams distinct
         (3, "one")],                   # too short: no grams
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in df.select(
        "doc_id",
        top_ngram_frac(F.col("text"), 2).alias("t2"),
        dup_ngram_frac(F.col("text"), 2).alias("d2"),
        top_ngram_frac(F.col("text"), 3).alias("t3"),
        dup_ngram_frac(F.col("text"), 3).alias("d3"),
    ).collect()}
    assert rows[1].t2 == 0.6 and rows[1].d2 == 1.0
    assert rows[1].t3 == 0.5 and rows[1].d3 == 1.0
    assert rows[2].t2 == round(1 / 3, 6) and rows[2].d2 == 0.0
    assert rows[3].t2 == 0.0 and rows[3].d3 == 0.0


def test_repetition_fracs_vs_python_reference(spark):
    import random

    from rayforce_spark.datapipe import dup_ngram_frac, top_ngram_frac

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 30))))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for n in (2, 3):
        got = {r.doc_id: (r.t, r.d) for r in df.select(
            "doc_id",
            top_ngram_frac(F.col("text"), n).alias("t"),
            dup_ngram_frac(F.col("text"), n).alias("d"),
        ).collect()}
        for i, text in docs:
            assert got[i] == _py_ngram_fracs(text, n), (n, i, text)


def test_repetition_ok_thresholds(spark):
    from rayforce_spark.datapipe import repetition_ok

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),      # top2 = 1.0: fail
         (2, "a quick brown fox jumps over dogs")],  # no repeats: pass
        "doc_id long, text string",
    )
    got = {r.doc_id: r.ok for r in df.select(
        "doc_id", repetition_ok(F.col("text")).alias("ok")).collect()}
    assert got == {1: False, 2: True}


def test_decontaminate_ngram_overlap(spark):
    from rayforce_spark.datapipe import (
        contaminated_ids,
        decontaminate,
        flag_contaminated,
    )

    train = spark.createDataFrame(
        [(1, "the capital of france is paris indeed"),
         (2, "completely unrelated text about spark"),
         (3, "what is the capital of france please")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "q: capital of france a: paris")], "doc_id long, text string")
    # 3-gram "capital of france" contaminates docs 1 and 3
    for hashed in (True, False):
        bad = sorted(r.doc_id for r in contaminated_ids(
            train, ev, "text", "doc_id", n=3, hashed=hashed).collect())
        assert bad == [1, 3]
        kept = decontaminate(train, ev, "text", "doc_id", n=3,
                             hashed=hashed)
        assert [r.doc_id for r in kept.collect()] == [2]
    # n large enough that no gram is shared -> nothing removed
    assert decontaminate(train, ev, "text", "doc_id", n=6).count() == 3
    flagged = {r.doc_id: r.contaminated for r in flag_contaminated(
        train, ev, "text", "doc_id", n=3).collect()}
    assert flagged == {1: True, 2: False, 3: True}


def test_bigram_lm_score_vs_python_reference(spark):
    # CCNet-shape quality signal: the corpus-trained add-alpha bigram LM
    # must reproduce an independent python model exactly (6dp)
    import math
    import random
    from collections import Counter

    from rayforce_spark.datapipe import bigram_lm_score

    rng = random.Random(5)
    vocab = ["the", "cat", "sat", "mat", "dog"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 12))))
            for i in range(25)]
    alpha = 0.1
    uni, big = Counter(), Counter()
    for _, t in docs:
        w = t.lower().split()
        uni.update(w)
        big.update(zip(w, w[1:]))
    V = len(uni)
    expect = {}
    for i, t in docs:
        w = t.lower().split()
        pairs = list(zip(w, w[1:]))
        if not pairs:
            expect[i] = None
            continue
        nll = [-math.log((big[p] + alpha) / (uni[p[0]] + alpha * V))
               for p in pairs]
        expect[i] = round(sum(nll) / len(nll), 6)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.lm_nll for r in
           bigram_lm_score(df, "text", "doc_id", alpha=alpha).collect()}
    assert got == expect
    # a fluent doc (common bigrams) scores lower than vocabulary soup
    fluent = [i for i, t in docs if "the cat" in t]
    if fluent:
        assert got[fluent[0]] is not None


def test_dsir_selects_target_like_docs(spark):
    # DSIR (Xie et al. 2023): raw pool = mostly "animal" docs + a few
    # "code" docs; target = code domain -> the code-like docs win
    from rayforce_spark.datapipe import dsir_select, dsir_weights

    # code docs share real BIGRAMS with the target (an add-alpha bigram
    # LM has no backoff, so unigram-only overlap carries no signal)
    code = [(100 + i, "def foo return x for i in range y") for i in range(4)]
    animals = [(i, "the cat sat on the mat with a dog") for i in range(12)]
    raw = spark.createDataFrame(animals + code, "doc_id long, text string")
    target = spark.createDataFrame(
        [(900, "def foo return x for i in range n"),
         (901, "def foo return y for i in range y")],
        "doc_id long, text string")
    w = {r.doc_id: r.log_w for r in
         dsir_weights(raw, target, "text", "doc_id").collect()}
    assert min(w[i] for i, _ in code) > max(w[i] for i, _ in animals)
    # deterministic top-k variant: exactly the highest-weight docs
    picked = sorted(r.doc_id for r in dsir_select(
        raw, target, "text", "doc_id", k=4, noise=False).collect())
    assert picked == [100, 101, 102, 103]
    # Gumbel resampling: stochastic by design, but reproducible for a
    # fixed salt and still k rows
    g1 = sorted(r.doc_id for r in dsir_select(
        raw, target, "text", "doc_id", k=4, salt=7).collect())
    g2 = sorted(r.doc_id for r in dsir_select(
        raw, target, "text", "doc_id", k=4, salt=7).collect())
    assert g1 == g2 and len(g1) == 4
    assert dsir_select(raw, target, "text", "doc_id", k=7,
                       salt=3).count() == 7


def test_dsir_weights_vs_python_reference(spark):
    import math
    import random
    from collections import Counter

    from rayforce_spark.datapipe import dsir_weights

    rng = random.Random(11)
    vocab_a, vocab_b = ["aa", "bb", "cc"], ["xx", "yy", "zz", "aa"]
    raw_docs = [(i, " ".join(rng.choice(vocab_a)
                             for _ in range(rng.randint(2, 10))))
                for i in range(20)]
    tgt_docs = [(50 + i, " ".join(rng.choice(vocab_b)
                                  for _ in range(rng.randint(2, 10))))
                for i in range(8)]
    alpha = 0.1

    def lm(docs):
        uni, big = Counter(), Counter()
        for _, t in docs:
            w = t.lower().split()
            uni.update(w)
            big.update(zip(w, w[1:]))
        return uni, big, len(uni)

    ur, br, vr = lm(raw_docs)
    ut, bt, vt = lm(tgt_docs)

    def nll(t, uni, big, V):
        w = t.lower().split()
        pairs = list(zip(w, w[1:]))
        return round(sum(
            -math.log((big[p] + alpha) / (uni[p[0]] + alpha * V))
            for p in pairs) / len(pairs), 6)

    raw = spark.createDataFrame(raw_docs, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_docs, "doc_id long, text string")
    got = {r.doc_id: r.log_w for r in
           dsir_weights(raw, tgt, "text", "doc_id").collect()}
    for i, t in raw_docs:
        expect = round(nll(t, ur, br, vr) - nll(t, ut, bt, vt), 6)
        assert abs(got[i] - expect) <= 1e-6, (i, got[i], expect)


def test_dedup_segments_lines_and_word_chunks(spark):
    from rayforce_spark.datapipe import dedup_segments

    # line mode: "dup" appears in docs 1 (pos 0), 1 (pos 2), 2 (pos 0) —
    # only the global first survives; doc 3 is all-duplicate -> ""
    df = spark.createDataFrame(
        [(1, "dup\nunique one\ndup"),
         (2, "dup\nunique two"),
         (3, "dup")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in
           dedup_segments(df, "text", "doc_id").collect()}
    assert got == {1: "dup\nunique one", 2: "unique two", 3: ""}

    # word-chunk mode, k=2: doc 1 = [a b][c d], doc 2 = [a b][x y][c d]
    # -> doc 2 keeps only "x y" (aligned chunks, global first wins)
    df2 = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y c d")], "doc_id long, text string")
    got2 = {r.doc_id: r.text for r in dedup_segments(
        df2, "text", "doc_id", words_per_segment=2).collect()}
    assert got2 == {1: "a b c d", 2: "x y"}
    # deterministic: same result on a second run
    got3 = {r.doc_id: r.text for r in dedup_segments(
        df2, "text", "doc_id", words_per_segment=2).collect()}
    assert got3 == got2


def test_dedup_segments_vs_python_reference(spark):
    import random

    from rayforce_spark.datapipe import dedup_segments

    rng = random.Random(13)
    vocab = ["aa", "bb", "cc"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 14))))
            for i in range(30)]
    k = 3
    seen, expect = set(), {}
    for i, text in docs:  # python twin: global first occurrence wins
        w = text.split(" ")
        keep = []
        for p in range(0, len(w), k):
            s = " ".join(w[p:p + k])
            if s not in seen:
                seen.add(s)
                keep.append(s)
        expect[i] = " ".join(keep)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.text for r in dedup_segments(
        df, "text", "doc_id", words_per_segment=k).collect()}
    assert got == expect


def test_decontaminate_plan_broadcasts_eval(spark):
    # the 100 TB contract: the eval-gram probe is a broadcast semi join,
    # never a shuffle of the training corpus
    from rayforce_spark.datapipe import decontaminate

    train = spark.createDataFrame(
        [(i, f"word{i} filler text here") for i in range(10)],
        "doc_id long, text string")
    ev = spark.createDataFrame([(0, "filler text here")],
                               "doc_id long, text string")
    plan = decontaminate(train, ev, "text", "doc_id", n=2)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_knn_ivf_highdim_vector_native_training(spark):
    # dim=256: training must stay one bounded sample collect + numpy
    # Lloyd (r13; previously one vector aggregate per iteration), never
    # 256 per-dimension avg columns — and recall on well-separated
    # clusters survives the high-dim regime
    import random

    rnd = random.Random(7)
    dim, per = 256, 60
    centers = [[10.0 * (c == (i % 8)) for i in range(dim)] for c in range(3)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            rows.append((vid, [x + rnd.gauss(0, 0.3) for x in c]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin([0, per, 2 * per]))
    exact = knn_cosine(df, queries, "embedding", "vec_id", k=5)
    approx = knn_ivf(df, queries, "embedding", "vec_id", k=5,
                     nlist=6, nprobe=2, iters=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"high-dim IVF recall too low: {recall}"


# ---------------------------------------------------------------------------
# sampling: deterministic curation sampling / splits (datapipe/sampling.py)
# ---------------------------------------------------------------------------


def test_sample_hash_deterministic_and_nested(spark):
    from rayforce_spark.datapipe import sample_hash

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    s20 = {r.k for r in sample_hash(df, "k", 0.20, salt=3).collect()}
    # partition layout must not change membership (the df.sample failure)
    s20b = {r.k for r in
            sample_hash(df.repartition(17), "k", 0.20, salt=3).collect()}
    assert s20 == s20b
    # a 10% sample is a subset of the 20% sample (same salt)
    s10 = {r.k for r in sample_hash(df, "k", 0.10, salt=3).collect()}
    assert s10 <= s20
    # rates land near nominal at this n
    assert 0.17 < len(s20) / 5000 < 0.23
    assert 0.08 < len(s10) / 5000 < 0.12
    # a different salt draws a different sample
    s20c = {r.k for r in sample_hash(df, "k", 0.20, salt=4).collect()}
    assert s20c != s20


def test_train_val_test_split_proportions(spark):
    from rayforce_spark.datapipe import train_val_test_split

    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    counts = dict(
        (r.fold, r["count"])
        for r in train_val_test_split(df, "k").groupBy("fold").count().collect()
    )
    assert set(counts) == {"train", "val", "test"}
    assert 0.77 < counts["train"] / 10000 < 0.83
    assert 0.07 < counts["val"] / 10000 < 0.13
    assert 0.07 < counts["test"] / 10000 < 0.13
    # folds partition the data: every row appears exactly once
    assert sum(counts.values()) == 10000


def test_cap_per_key(spark):
    from rayforce_spark.datapipe import cap_per_key

    df = spark.createDataFrame(
        [(k, i) for k in ("a", "b") for i in range(10)] + [("c", 0)],
        "key string, seq long",
    )
    out = cap_per_key(df, "key", 3, "seq").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r.seq)
    assert sorted(by_key["a"]) == [0, 1, 2]
    assert sorted(by_key["b"]) == [0, 1, 2]
    assert by_key["c"] == [0]  # keys under the cap keep everything


def test_shuffle_epoch_deterministic_permutation(spark):
    # r9: per-epoch deterministic shuffle — (shard, pos) is a total
    # permutation, identical across reruns, different across epochs,
    # with no global sort in the plan (per-shard window only)
    from rayforce_spark.datapipe import shuffle_epoch

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = shuffle_epoch(df, "doc_id", epoch=0, shards=8)
    rows = a.collect()
    assert len(rows) == 500
    # totality: (shard, pos) unique, pos dense 0..n_shard-1 per shard
    keyed = {(r.shard, r.pos) for r in rows}
    assert len(keyed) == 500
    from collections import Counter
    per = Counter(r.shard for r in rows)
    assert set(per) <= set(range(8))
    for s, n in per.items():
        assert {r.pos for r in rows if r.shard == s} == set(range(n))
    # reproducible: same epoch -> identical assignment
    b = {(r.doc_id, r.shard, r.pos)
         for r in shuffle_epoch(df, "doc_id", epoch=0, shards=8).collect()}
    assert b == {(r.doc_id, r.shard, r.pos) for r in rows}
    # different epoch -> a different permutation
    c = {(r.doc_id, r.shard, r.pos)
         for r in shuffle_epoch(df, "doc_id", epoch=1, shards=8).collect()}
    assert c != b and len(c) == 500
    # no global window: the plan partitions its sort by shard
    plan = a._jdf.queryExecution().optimizedPlan()

    def walk(node):
        yield node
        it = node.children().iterator()
        while it.hasNext():
            yield from walk(it.next())
    assert not any(
        n.getClass().getSimpleName() in ("Window", "WindowGroupLimit")
        and n.partitionSpec().isEmpty() for n in walk(plan))


def test_mix_corpora(spark):
    from rayforce_spark.datapipe import mix_corpora, sample_hash

    a = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "src", F.lit("a"))
    b = spark.range(1000, 2000).withColumnRenamed("id", "k").withColumn(
        "src", F.lit("b"))
    out = mix_corpora([(a, "k", 1.0), (b, "k", 0.25)], salt=1)
    counts = dict((r.src, r["count"])
                  for r in out.groupBy("src").count().collect())
    assert counts["a"] == 1000
    assert 200 < counts["b"] < 300
    # per-source membership equals a standalone sample at the same salt
    only_b = {r.k for r in out.filter(F.col("src") == "b").collect()}
    direct = {r.k for r in sample_hash(b, "k", 0.25, salt=1).collect()}
    assert only_b == direct


def test_embedding_dup_pairs_lsh_recall(tables):
    from rayforce_spark.datapipe import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    emb = tables["embeddings"].filter(F.col("vec_id") < 300)
    exact = {(r.id_a, r.id_b) for r in embedding_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.4).collect()}
    # threshold 0.4 is a WIDE angle (66°): fewer planes per table keep
    # collision probability up (expected miss ~2% at 2 planes / 8 tables;
    # the 4-plane default targets tight thresholds like 0.95)
    approx = {(r.id_a, r.id_b) for r in embedding_dup_pairs_lsh(
        emb, "embedding", "vec_id", threshold=0.4, dim=64,
        planes=2, tables=8).collect()}
    assert approx <= exact  # exact verify on candidates: no false positives
    assert exact and len(approx & exact) / len(exact) >= 0.85
    # recall-exact gate config reproduces the all-pairs result bit-for-bit
    exact_cfg = {(r.id_a, r.id_b) for r in embedding_dup_pairs_lsh(
        emb, "embedding", "vec_id", threshold=0.4, dim=64,
        planes=1, tables=16).collect()}
    assert exact_cfg == exact


def test_curate_end_to_end(tables):
    """The full curation composition over the documents table:
    deterministic, monotone reductions, dups actually gone."""
    from rayforce_spark.datapipe import curate

    d = tables["documents"]
    n0 = d.count()
    holdout = d.filter(F.col("doc_id") % 97 == 0)
    train_in = d.filter(F.col("doc_id") % 97 != 0)
    kw = dict(
        repetition_gate=True,
        segment_dedup=3,  # aligned 3-word chunks (corpus has no newlines)
        neardup_threshold=0.8,
        min_quality_quantile=0.2, quality_by="lang",
        lm_floor_quantile=0.95,
        decontam_against=holdout, decontam_n=3,
        sample_fraction=0.5, sample_salt=7,
        fold_salt=11,
        cap_key="lang", cap_n=40,
    )
    full = curate(train_in, **kw)
    rows = full.collect()
    assert 0 < len(rows) < n0
    assert {r.fold for r in rows} <= {"train", "val", "test"}
    # per-key cap holds
    from collections import Counter

    by_lang = Counter(r.lang for r in rows)
    assert max(by_lang.values()) <= 40
    # decontamination held: no survivor shares a 3-gram with the holdout
    from rayforce_spark.datapipe import contaminated_ids

    leaked = contaminated_ids(full, holdout, "text", "doc_id", n=3)
    assert leaked.count() == 0
    # deterministic: a second run is byte-identical
    again = curate(train_in, **kw).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # dedup-only pass: no exact-fingerprint dups survive
    lean = curate(d, neardup_threshold=None, fold_col=None)
    from rayforce_spark.datapipe import doc_fingerprint

    fps = lean.select(doc_fingerprint(F.col("text")).alias("fp"))
    assert fps.count() == fps.distinct().count()
    # fold/sample salt collision is rejected
    import pytest as _pt

    with _pt.raises(ValueError, match="fold_salt"):
        curate(d, neardup_threshold=None, sample_fraction=0.5,
               sample_salt=3, fold_salt=3)


def test_arrow_paths_on_empty_and_all_null_inputs(spark):
    """Zero-row and all-null inputs through the Arrow-only paths. Null
    vectors key to bucket/list 0 and score a null cosine, never a
    made-up one; an all-null corpus trains no IVF centroids (a null
    vector in the centroid-init window used to raise a TypeError);
    null text has no simhash and no repetition (0.0, gate passes)."""
    from rayforce_spark.datapipe import repetition_metrics, simhash

    vs, ts = "vec_id long, embedding array<double>", "doc_id long, text string"
    v_null = spark.createDataFrame([(i, None) for i in range(4)], vs)
    v_ok = spark.createDataFrame(
        [(10 + i, [float(i), 1.0, -0.5 * i]) for i in range(6)], vs)
    lsh = dict(k=3, dim=3, planes=2, tables=2)
    assert knn_lsh(v_null.limit(0), v_ok, "embedding", "vec_id",
                   **lsh).count() == 0
    rows = knn_lsh(v_null, v_null, "embedding", "vec_id", **lsh).collect()
    assert len(rows) == 4 * 3 and all(r.cos is None for r in rows)
    ivf = dict(k=3, nlist=10, nprobe=10, iters=1)
    assert knn_ivf(v_null, v_null, "embedding", "vec_id", **ivf).count() == 0
    rows = knn_ivf(v_ok.unionByName(v_null), v_null.limit(2), "embedding",
                   "vec_id", **ivf).collect()
    assert len(rows) == 2 * 3 and all(r.cos is None for r in rows)
    t_null = spark.createDataFrame([(i, None) for i in range(4)], ts)
    for t in (t_null.limit(0), t_null):
        assert simhash(t, "text", "doc_id").count() == 0
    m = t_null.select(repetition_metrics(F.col("text")).alias("m"))
    assert m.limit(0).count() == 0
    assert [tuple(r.m) for r in m.collect()] == [(0.0, 0.0, True)] * 4


def test_embedding_block_scorers_skip_null_vectors(spark):
    """A null vector (and, for the LSH pairs, one whose length is not
    ``dim``) has a null cosine, so it can never pass the threshold: both
    block scorers drop such rows before blocking/bucketing and return
    exactly the expr pairs, where they used to raise."""
    from rayforce_spark.datapipe.similarity import embedding_dup_pairs_lsh

    vs = "vec_id long, embedding array<double>"
    e = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, -0.05 * i]) for i in range(6)]
        + [(6, None), (7, None)], vs)

    def pairs(df):
        return {(r.id_a, r.id_b): r.cos for r in df.collect()}

    ex = pairs(embedding_dup_pairs(e, "embedding", "vec_id", threshold=-2.0,
                                   impl="expr"))
    assert len(ex) == 15
    assert pairs(embedding_dup_pairs(e, "embedding", "vec_id",
                                     threshold=-2.0, impl="block",
                                     nblocks=3)) == ex
    e = e.unionByName(spark.createDataFrame([(8, [1.0, 0.0])], vs))
    kw = dict(threshold=-2.0, dim=3, planes=1, tables=16)
    lx = pairs(embedding_dup_pairs_lsh(e, "embedding", "vec_id",
                                       impl="expr", **kw))
    assert lx and lx.items() <= ex.items()
    assert pairs(embedding_dup_pairs_lsh(e, "embedding", "vec_id",
                                         impl="block", **kw)) == lx


def test_embedding_pandas_impl_bit_equal(tables):
    """The numpy block scorer is BIT-identical to the JVM fixed-point
    fold — over EVERY all-pairs cosine (threshold -2 keeps all), not
    just the near-dup tail, so the gate's impl="block" is value-safe
    (rounding-equivalence argument in score_units_block's docstring;
    this is the empirical pin)."""
    e = tables["embeddings"]
    expr = {(r.id_a, r.id_b): r.cos for r in embedding_dup_pairs(
        e, "embedding", "vec_id", threshold=-2.0, impl="expr").collect()}
    blk = {(r.id_a, r.id_b): r.cos for r in embedding_dup_pairs(
        e, "embedding", "vec_id", threshold=-2.0, impl="block",
        nblocks=5).collect()}
    assert expr.keys() == blk.keys() and expr
    assert all(expr[k] == blk[k] for k in expr)  # ==, no tolerance
    # and the LSH bucket scorer shares the same math: expr vs block
    # candidate verification agree pair-for-pair, bit-for-bit
    from rayforce_spark.datapipe.similarity import embedding_dup_pairs_lsh

    lx = {(r.id_a, r.id_b): r.cos for r in embedding_dup_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.3, dim=64, planes=2,
        tables=8, impl="expr").collect()}
    lb = {(r.id_a, r.id_b): r.cos for r in embedding_dup_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.3, dim=64, planes=2,
        tables=8, impl="block").collect()}
    assert lx.keys() == lb.keys() and lx
    assert all(lx[k] == lb[k] for k in lx)
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown impl"):
        embedding_dup_pairs(e, "embedding", "vec_id", impl="pandas")
    with _pt.raises(ValueError, match="unknown impl"):
        embedding_dup_pairs_lsh(e, "embedding", "vec_id", dim=64,
                                impl="pandas")


def test_repetition_pandas_impl_bit_equal(tables, spark):
    """The Arrow repetition stats return IDENTICAL integers to the JVM
    sorted-array fold (_ngram_run_stats over 2- and 3-grams) over the
    whole gate corpus plus the tokenizer's edge shapes (None / empty /
    whitespace-only / short docs), and the metrics match the ones
    computed from the fold's integers — value-safe by integer equality
    (no float-rounding argument needed: division + round stay JVM)."""
    from rayforce_spark.datapipe import repetition_metrics, repetition_stats
    from rayforce_spark.datapipe.text import (
        _ngram_run_stats, _repetition_fracs, ngrams)

    edge = spark.createDataFrame(
        [(9000001, None), (9000002, ""), (9000003, "   \t  "),
         (9000004, "one"), (9000005, "a b"), (9000006, "a b a b a b"),
         (9000007, "x y z x y z x y z w")],
        "doc_id long, text string")
    d = tables["documents"].select("doc_id", "text").unionByName(edge)
    s2 = _ngram_run_stats(ngrams(F.col("text"), 2))
    s3 = _ngram_run_stats(ngrams(F.col("text"), 3))
    ref = F.struct(
        s2["maxrun"].cast("int").alias("maxrun2"),
        s2["total"].cast("int").alias("total2"),
        s3["dup"].cast("int").alias("dup3"),
        s3["total"].cast("int").alias("total3"),
    )
    rows = d.select(
        "doc_id",
        ref.alias("e"),
        repetition_stats(F.col("text")).alias("p"),
        _repetition_fracs(ref).alias("me"),
        repetition_metrics(F.col("text")).alias("mp"),
    ).collect()
    assert rows
    for r in rows:
        assert tuple(r.e) == tuple(r.p), (r.doc_id, r.e, r.p)
        assert tuple(r.me) == tuple(r.mp), (r.doc_id, r.me, r.mp)


def test_pack_offsets_concat_and_chunk(spark):
    # GPT-style concatenate-and-chunk (Brown et al. 2020): exclusive
    # token cumsum in id order within each shard; chunk indices at
    # budget granularity; docs may straddle chunk boundaries
    from rayforce_spark.datapipe import pack_offsets

    d = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([5, 3, 4, 6, 2, 7])],
        "doc_id long, text string")
    out = {r.doc_id: r for r in pack_offsets(
        d, "text", "doc_id", budget=8, shards=1, salt=0).collect()}
    # one shard -> pure id order: offsets 0,5,8,12,18,20
    starts = [out[i].tok_start for i in range(6)]
    assert starts == [0, 5, 8, 12, 18, 20]
    assert [out[i].n_tok for i in range(6)] == [5, 3, 4, 6, 2, 7]
    # doc 1 (tokens 5..7) sits inside chunk 0; doc 2 (8..11) in chunk 1;
    # doc 5 (20..26) straddles chunks 2 and 3
    assert (out[1].pack_first, out[1].pack_last) == (0, 0)
    assert (out[2].pack_first, out[2].pack_last) == (1, 1)
    assert (out[5].pack_first, out[5].pack_last) == (2, 3)
    # sharding is deterministic + engine-portable (knuth hash): same
    # assignment across two runs, and per-shard offsets restart at 0
    two = pack_offsets(d, "text", "doc_id", budget=8, shards=3, salt=1)
    a = sorted(map(tuple, two.collect()))
    b = sorted(map(tuple, pack_offsets(
        d, "text", "doc_id", budget=8, shards=3, salt=1).collect()))
    assert a == b
    assert {r.tok_start for r in two.collect()
            if r.shard is not None} >= {0}


def test_pack_greedy_first_fit_invariants(spark):
    # doc-boundary first-fit: no pack exceeds the budget unless it is a
    # single oversized doc; packs are contiguous in id order per shard
    from collections import defaultdict

    from rayforce_spark.datapipe import pack_greedy

    import random
    rng = random.Random(5)
    docs = [(i, " ".join(["t"] * rng.randint(1, 13)))
            for i in range(60)]
    docs.append((60, " ".join(["t"] * 40)))  # oversized vs budget 16
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pack_greedy(d, "text", "doc_id", budget=16, shards=4,
                       salt=2).collect()
    assert len(rows) == 61
    by_pack = defaultdict(list)
    for r in rows:
        by_pack[(r.shard, r.pack)].append(r)
    for (_, _), members in by_pack.items():
        tot = sum(m.n_tok for m in members)
        assert tot <= 16 or len(members) == 1  # oversized doc alone
    # contiguity: within a shard, pack ids are non-decreasing in id
    # order and increase by at most 1
    by_shard = defaultdict(list)
    for r in sorted(rows, key=lambda r: r.doc_id):
        by_shard[r.shard].append(r.pack)
    for packs in by_shard.values():
        assert packs[0] == 0
        assert all(0 <= b - a <= 1 for a, b in zip(packs, packs[1:]))


def test_pack_null_text_and_shard_guard(spark):
    # r9: null text packs as 0 tokens in BOTH packers (r8 shape: null
    # n_tok crashed pack_greedy's int() and left pack_offsets' pack_*
    # null); the per-shard row guard raises with actionable advice
    # instead of OOMing the executor, and max_shard_rows=None opts out
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from rayforce_spark.datapipe import pack_greedy, pack_offsets

    d = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "d e")],
        "doc_id long, text string")
    off = {r.doc_id: r for r in pack_offsets(
        d, "text", "doc_id", budget=4, shards=1).collect()}
    assert off[1].n_tok == 0
    # null doc occupies no tokens: doc 2 starts right after doc 0
    assert (off[0].tok_start, off[1].tok_start, off[2].tok_start) == (0, 3, 3)
    assert off[1].pack_first == off[1].pack_last == 0
    grd = {r.doc_id: r for r in pack_greedy(
        d, "text", "doc_id", budget=4, shards=1).collect()}
    assert grd[1].n_tok == 0
    assert [grd[i].pack for i in range(3)] == [0, 0, 1]  # 3+0 then 2

    big = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("x y z").alias("text"))
    with pytest.raises(PythonException, match="max_shard_rows"):
        pack_greedy(big, "text", "doc_id", budget=4, shards=1,
                    max_shard_rows=3).collect()
    assert pack_greedy(big, "text", "doc_id", budget=4, shards=1,
                       max_shard_rows=None).count() == 10


def test_pack_compose_with_epoch_shuffle(spark):
    # r9 review fixes: (a) output-name collisions raise instead of
    # silently clobbering an upstream shard column; (b) shard_col/
    # order_col pack ALONG shuffle_epoch's (shard, pos) permutation —
    # different epochs then yield different pack assignments, same
    # epoch is deterministic
    import pytest

    from rayforce_spark.datapipe import pack_greedy, shuffle_epoch

    d = spark.range(80).select(
        F.col("id").alias("doc_id"), F.lit("w x y z").alias("text"))
    ep0 = shuffle_epoch(d, "doc_id", epoch=0, shards=3)
    with pytest.raises(ValueError, match="shard_col"):
        pack_greedy(ep0, "text", "doc_id", budget=16)  # would clobber
    with pytest.raises(ValueError, match="rename"):
        shuffle_epoch(ep0, "doc_id", epoch=1)  # shard/pos taken

    def packing(epoch):
        ep = shuffle_epoch(d, "doc_id", epoch=epoch, shards=3)
        p = pack_greedy(ep, "text", "doc_id", budget=16,
                        shard_col="shard", order_col="pos")
        return {r.doc_id: (r.shard, r.pos, r.pack) for r in p.collect()}

    a = packing(0)
    assert len(a) == 80
    assert a == packing(0)          # deterministic
    assert a != packing(1)          # epoch changes the permutation
    # packs follow pos order within each epoch shard: 4 tokens/doc at
    # budget 16 -> pack boundaries every 4 docs in pos order
    for doc, (shard, pos, pack) in a.items():
        assert pack == pos // 4, (doc, shard, pos, pack)


def test_pack_greedy_slim_arrow_batch(spark):
    # the text column must never enter the Arrow batch — the stateful
    # scan runs over (id, shard, n_tok) only and joins back (r9 scale
    # fix: the r8 shape materialized whole shards of text in pandas)
    from rayforce_spark.datapipe import pack_greedy

    d = spark.createDataFrame([(0, "a b"), (1, "c")],
                              "doc_id long, text string")
    plan = pack_greedy(d, "text", "doc_id", budget=4,
                       shards=2)._jdf.queryExecution().executedPlan().toString()
    fmg = [ln for ln in plan.splitlines() if "FlatMapGroupsInPandas" in ln]
    assert fmg, plan
    assert all("text" not in ln for ln in fmg), fmg


def test_python_stages_on_zero_rows(spark):
    """Zero-row inputs through the packing and iterate Python stages:
    each returns zero rows with its declared schema."""
    import pandas as pd

    from rayforce_spark.datapipe import pack_greedy, pack_offsets
    from rayforce_spark.operators.iterate import apply_grouped, apply_rows

    d = spark.createDataFrame([], "doc_id long, text string").repartition(3)
    off = pack_offsets(d, "text", "doc_id", budget=8, shards=3)
    assert off.collect() == [] and off.columns == [
        "doc_id", "text", "shard", "n_tok", "tok_start", "pack_first",
        "pack_last"]
    grd = pack_greedy(d, "text", "doc_id", budget=8, shards=3)
    assert grd.collect() == [] and grd.dtypes == [
        ("doc_id", "bigint"), ("text", "string"), ("shard", "bigint"),
        ("n_tok", "int"), ("pack", "bigint")]

    def lengths(pdf):
        return pd.DataFrame({"doc_id": pdf["doc_id"],
                             "n": pdf["text"].str.len()})

    want = [("doc_id", "bigint"), ("n", "bigint")]
    for impl in ("spark", "batched"):
        out = apply_grouped(d, ["doc_id"], lengths, "doc_id long, n long",
                            impl=impl)
        assert out.collect() == [] and out.dtypes == want, impl
    out = apply_rows(d, lambda it: (lengths(p) for p in it),
                     "doc_id long, n long")
    assert out.collect() == [] and out.dtypes == want


def test_curate_quality_global_window_optin(tables):
    # the r8 by=None guard must be reachable THROUGH curate(): without
    # a by-group it raises with actionable advice, and
    # quality_global_ok=True is the documented opt-in
    import pytest

    from rayforce_spark.datapipe import curate

    d = tables["documents"]
    kw = dict(neardup_threshold=None, exact_dedup=False)
    with pytest.raises(ValueError, match="global_ok"):
        curate(d, min_quality_quantile=0.5, **kw)
    out = curate(d, min_quality_quantile=0.5, quality_global_ok=True, **kw)
    assert 0 < out.count() <= d.count()
    with pytest.raises(ValueError, match="global_ok"):
        curate(d, lm_floor_quantile=0.9, **kw)


def test_dedup_last_rejects_unknown_keep(spark):
    import pytest

    from rayforce_spark.operators.joins import dedup_last

    d = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="keep"):
        dedup_last(d, ["k"], keep="lastt")
