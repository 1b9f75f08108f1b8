"""Deduplication operators for document-scale corpora.

Scale design notes (100 TB):
* exact dedup — one hash-shuffle on the digest; no Python.
* minhash LSH — signatures are built from JVM-side expressions
  (xxhash64 over a shingle array, one array_min per permutation): no UDF,
  no explode of (row × shingle × permutation). Banding emits `bands` rows
  per doc (small constant), bucket join finds candidates, exact Jaccard
  verifies candidates only.
* simhash — token hashes are one JVM transform per doc; the per-bit
  majority vote runs per row in an Arrow batch (no explode, no grouped
  63-aggregate plan — that plan survives only as the test reference).
* embedding cosine — exact all-pairs is O(n²) and only for modest n /
  verification; the LSH route (random hyperplanes) is the scale path.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _tokens(text: Column) -> Column:
    """Lowercased whitespace tokens — shared tokenizer for dedup/text ops."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def fanout(df: DataFrame) -> DataFrame:
    """Ensure scan-stage parallelism >= the cluster's: shingling, token
    explosion and Arrow-UDF vector math all parallelize with INPUT
    partitions, and a small parquet source (one row-group) arrives as ONE
    partition, single-coring the heaviest stage of every pair generator
    (measured at sf0.1: the Jaccard shingle+df+sort materialization ran
    5.3 s on the 1-split documents file vs 1.4 s after fan-out). A no-op
    at scale — a 100 TB input always has more splits than cores — and for
    streaming frames (micro-batch partitioning is the trigger's job)."""
    if df.isStreaming:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def with_shingle_hashes(df: DataFrame, text_col: str, k: int, out: str) -> DataFrame:
    """Add a distinct k-shingle HASH array (array<long>) — the fast path
    for every shingle consumer that only needs set semantics (minhash,
    jaccard): hash each word once, then roll the window by zipping the
    word-hash array against its own k-1 shifts (xxhash64 chaining). No
    per-shingle string is ever built — measured 3.5x faster than
    slice+array_join shingling, and downstream shuffles move 8-byte longs
    instead of ~30-byte strings. Docs shorter than k words yield an empty
    array (slice length clamps to 0).

    Spelled as two F.expr strings rather than composed Column objects:
    the Column spelling costs ~115 ms of py4j round-trips PER CALL at
    k=3 (one JVM hop per F.* node), and this constructor runs twice per
    minhash_lsh_pairs build — a measurable chunk of short interactive
    queries. One parsed SQL string is a single hop for the same plan."""
    qcol = text_col.replace("`", "``")  # any column name survives quoting
    words = df.withColumn(
        "__rf_wh",
        F.expr(f"transform(split(trim(lower(`{qcol}`)), '\\\\s+'),"
               " w -> xxhash64(w))"),
    )
    z = "__rf_wh"
    for j in range(1, k):
        z = (f"zip_with({z}, slice(__rf_wh, {j + 1},"
             f" greatest(size(__rf_wh) - {j}, 0)),"
             f" (a{j}, b{j}) -> xxhash64(a{j}, b{j}))")
    full = f"slice({z}, 1, greatest(size(__rf_wh) - {k - 1}, 0))"
    return words.withColumn(out, F.expr(f"array_distinct({full})")).drop("__rf_wh")


def _shingle_hashes(df: DataFrame, text_col: str, id_col: str,
                    k: int) -> DataFrame:
    """(__id, __bh) k-shingle hash sets of a corpus — the shared prelude
    of the minhash and Jaccard pair generators and index legs. Callers
    apply their own fanout."""
    return with_shingle_hashes(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")),
        "__t", k, "__bh",
    ).select("__id", "__bh")


#: Output id names of the shared candidate/verify stages: a batch
#: generator emits (id_a, id_b) self-pairs under ``<``; an index probe
#: emits (new_id, index_id) batch-vs-stored pairs under ``!=``.
_PAIR_IDS = ("id_a", "id_b")
_PROBE_IDS = ("new_id", "index_id")


def dedup_segments(df: DataFrame, text_col: str, id_col: str, *,
                   words_per_segment: int | None = None) -> DataFrame:
    """Corpus-global SEGMENT-level exact dedup — the C4 "discard all but
    one of any three-sentence span occurring more than once" /
    line-dedup family (Raffel et al. 2020 arXiv:1910.10683 §2.2;
    RefinedWeb, Penedo et al. 2023, runs the same rule on lines): every
    repeated segment keeps only its globally FIRST occurrence (smallest
    (id, position) — deterministic across runs and engines); each
    document is reassembled from its surviving segments (possibly
    empty, never dropped — downstream length filters cull husks).

    Segmenter: newline lines by default; ``words_per_segment=k`` chunks
    the whitespace token stream into aligned k-word blocks instead, for
    corpora without line structure.

    Plan (deliberately NOT a per-segment sort window): posexplode ->
    groupBy segment hash with min(struct(id, pos)) — a partial-agg
    shuffle that is immune to boilerplate-segment skew (a segment
    repeated 1e9 times map-side combines to one row per task, where a
    row_number window would sort the hot partition) -> join the
    min-occurrence set back and keep matching rows -> one keyed shuffle
    to reassemble. Segments shuffle as 8-byte xxhash64 keys, not text."""
    sep = " " if words_per_segment else "\n"
    if words_per_segment:
        k = int(words_per_segment)
        w = F.split(F.col(text_col), " ")
        segs = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(k)),
            lambda i: F.array_join(F.slice(w, i, k), " "),
        )
    else:
        segs = F.split(F.col(text_col), "\n")
    ex = fanout(df).select(
        F.col(id_col).alias("__sid"),
        F.posexplode(segs).alias("__pos", "__seg"),
    ).withColumn("__h", F.xxhash64("__seg"))
    firsts = ex.groupBy("__h").agg(
        F.min(F.struct(F.col("__sid"), F.col("__pos"))).alias("__f"))
    kept = (
        ex.join(firsts, "__h")
        .filter((F.col("__sid") == F.col("__f.__sid"))
                & (F.col("__pos") == F.col("__f.__pos")))
    )
    clean = kept.groupBy("__sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
            sep,
        ).alias("__clean")
    )
    out = df.join(clean, df[id_col] == clean["__sid"], "left")
    return out.withColumn(
        text_col, F.coalesce(F.col("__clean"), F.lit(""))
    ).drop("__sid", "__clean")


def dedup_exact(df: DataFrame, cols: list[str], *, id_col: str,
                keep: str = "min") -> DataFrame:
    """Exact dedup on ``cols``: keep one row per duplicate group (the
    min/max ``id_col`` — deterministic, unlike DISTINCT over extra
    columns). One shuffle, hash-aggregated both sides."""
    keep_fn = F.min if keep == "min" else F.max
    keeper = df.groupBy(*cols).agg(keep_fn(id_col).alias(id_col))
    return df.join(keeper, [*cols, id_col], "left_semi")


def minhash_signature_from_hashes(base_hashes: Column, *, num_perm: int) -> Column:
    """Signature from an ALREADY-MATERIALIZED array<long> of shingle
    hashes — the per-permutation work is pure integer arithmetic.

    ONE pass over the shingle array: fold with a running array<long> of
    per-permutation minima (least() skips the null init, so an empty
    shingle array yields all-null slots — same as the previous
    64×array_min spelling, whose 64 separate passes over the array were
    measured ~25% slower on the signature stage at sf0.1). Values are
    bit-identical to the old form: the permutation family is still
    xxhash64(shingle_hash, perm_index)."""
    init = F.array_repeat(F.lit(None).cast("long"), num_perm)
    idx = F.sequence(F.lit(0), F.lit(num_perm - 1))
    return F.aggregate(
        base_hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda i: F.xxhash64(h, i)),
            lambda a, b: F.least(a, b),
        ),
    )


def _minhash_sig(shingled: DataFrame, *, num_perm: int) -> DataFrame:
    """(__id, __sig) signatures over a (__id, __bh) shingle-hash stream
    — the shared signature stage for the pair join and the persisted
    index (identical family, so their buckets are interchangeable)."""
    sig_col = minhash_signature_from_hashes(F.col("__bh"), num_perm=num_perm)
    # extra columns (e.g. the guard's __gkey collapse key) ride along;
    # the index path passes exactly (__id, __bh), so its output schema
    # — and the persisted bucket-leg format downstream — is unchanged
    carry = [c for c in shingled.columns if c not in ("__id", "__bh")]
    return shingled.select("__id", *carry, sig_col.alias("__sig"))


def _band_buckets(sig: DataFrame, *, num_perm: int, bands: int) -> DataFrame:
    """(__id, __bucket) LSH band buckets: each band's signature slice
    hashed 64-bit with the band index mixed in (so bucket values collide
    across bands only by 64-bit accident and a single bucket column
    suffices). xxhash64, NOT Spark's 32-bit murmur hash(): cross-band
    collisions are harmless for correctness (they only add
    exactly-verified candidates), but a corpus-scale index holds far
    more than 2^32 bucket rows (1e10 docs x 16 bands), and a saturated
    32-bit key range would manufacture spurious candidate volume by
    hash-range collision alone. Single parsed expr string (vs ``bands``
    composed F.xxhash64(F.slice()) Columns): same plan, one py4j hop —
    see with_shingle_hashes."""
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"xxhash64(slice(__sig, {b * rows_per_band + 1}, {rows_per_band}),"
        f" {b})"
        for b in range(bands)
    )
    carry = [c for c in sig.columns if c not in ("__id", "__sig")]
    return sig.select(
        "__id", *carry,
        F.expr(f"explode(array({band_exprs}))").alias("__bucket"),
    )


#: Predicted within-bucket candidate emission (unordered pairs) above
#: which the dense-corpus guard reroutes a pair generator to its
#: rep-collapsed plan. AQE sizes exchanges from MAP OUTPUT bytes and
#: cannot see a join's downstream emission, so a duplicate-dense corpus
#: — where bucket size tracks the largest duplicate group — quietly
#: emits its k² candidates on 1-2 coalesced tasks (measured r10/r11:
#: 20+ min crawls at 10x scale). 2M pairs is conservatively low: a
#: single task streams that in seconds, and the dense branch is exact
#: (same output), so a false trigger costs only the collapse shuffle
#: over slim (id, key) rows.
_DENSE_GUARD_THRESHOLD = 2_000_000


def _predicted_emission(b: DataFrame, keys: list[str]) -> int:
    """Σ k·(k−1)/2 over bucket sizes — the exact number of candidate
    rows the within-bucket self-join will emit (before dedup). One
    map-side-combined aggregate over slim bucket rows, one driver row;
    runs BEFORE the quadratic join so the guard can reroute the plan.
    This is the only way to close the AQE blind spot: emission is a
    property of the key distribution, which no plan-time statistic
    sees."""
    row = (
        b.groupBy(*keys).agg(F.count("*").alias("__n"))
        .agg(F.sum(F.col("__n") * (F.col("__n") - 1) / 2).alias("__e"))
        .collect()[0]
    )
    return int(row["__e"] or 0)


#: Bucket-row floor below which the minhash/simhash guards skip their
#: grouped stats job and stay sparse. The stats aggregate is ~0.4 s of
#: mostly FIXED job cost — 60%+ overhead on an interactive sf0.1 run,
#: noise at corpus scale — while a cheap narrow count() over the
#: checkpointed rows is ~0.1 s. Sound ONLY where bucket rows are
#: docs×bands (banded layouts): below ~2M such rows (≈125k docs at
#: bands=16) an EXACT-dup-dense corpus is output-bound anyway
#: (dedup_clusters / index mode="reps" is the tool), and the residual
#: unguarded window — a sub-floor NEAR-dup-dense corpus — is bounded to
#: minutes, not the 20+ min corpus-scale crawls the guard exists for;
#: pass dense_threshold explicitly to force stats on a small corpus.
#: NEVER apply to jaccard prefix rows: they are per-doc compressed, so
#: few rows can hide billions of predicted pairs (measured — see the
#: note at the jaccard call site).
_DENSE_GUARD_ROW_FLOOR = 2_000_000


def _below_row_floor(bucket_rows: int) -> bool:
    """The guard's row-floor rule: a banded (docs×bands) layout with
    fewer bucket rows than _DENSE_GUARD_ROW_FLOOR is always "sparse".
    _guard_decision skips it for unbanded layouts and when
    ``dense_threshold`` is passed explicitly; the index ingest applies
    it to a batch's known row count (_minhash_intra)."""
    return bucket_rows < _DENSE_GUARD_ROW_FLOOR


def _dense_decision(b: DataFrame, keys: list[str], gkey: str,
                    thresh: int, *, mod_col: str | None = None,
                    sample_mod: int = 16) -> str:
    """Pick the candidate-join plan from the bucket-size distribution:

    - "sparse"   — predicted emission Σ n·(n−1)/2 ≤ ``thresh``: the r11
      plan unchanged.
    - "collapse" — emission is high AND at least half of it is
      duplicate mass (Σ g·(g−1)/2 over DISTINCT collapse keys per
      bucket — exactly the emission the rep-collapsed join would see —
      is ≤ half the raw): reroute to the rep-collapsed branch.
    - "pin"      — emission is high but collapsing wouldn't halve it
      (near-dup-dense or intrinsically coarse buckets — e.g. simhash's
      7-bit chunk keys make hot buckets NORMAL, measured 127M predicted
      pairs on the ordinary sf0.1 corpus): keep the sparse join but
      repartition its input to cluster width, AQE-immune — the r11
      manual width pin, now automatic. Collapse would only
      add overhead here (measured: simhash sf0.1 auto-collapse 3.1 s
      vs sparse 1.6 s, because reps ≈ docs).

    One map-side-combined aggregate over the slim checkpointed bucket
    rows, one driver row. The decision changes only the PLAN — all
    three branches produce identical output — so a boundary flip is
    safe.

    ``mod_col``/``sample_mod``: BUCKET-COMPLETE subsampling — keep only
    buckets whose (well-mixed hash) key ≡ 0 mod ``sample_mod`` and
    scale both sums back up. Unlike row sampling (which thins each
    bucket binomially and biases the distinct-group count), selecting
    whole buckets by key value keeps within-bucket structure exact, so
    both estimators stay unbiased with tiny variance over many buckets.
    This is what makes the stats job cheap on ordinary corpora: the
    minhash aggregate over ~1M mostly-singleton sf0.1 buckets cost
    0.46 s un-sampled vs ~0.1 s at mod 16 (measured) — only use it
    when the bucket key is a mixed hash AND the key population is
    large (minhash buckets: ≥ docs·bands distinct values by
    construction). NOT for simhash (raw fingerprint chunks — biased
    bits, and its group count is bounded by bands·2^chunk anyway) and
    NOT for jaccard prefixes (the distinct prefix vocabulary can be
    tiny — measured: the 10x template corpus's ~60 hot prefix tokens
    all missed residue 0 mod 16, sampling a 4.5B-pair emission down to
    an estimated ZERO).

    ``thresh`` is PER-GENERATOR: it encodes the per-candidate cost of
    the join the guard protects. Minhash/jaccard candidates feed an
    array-intersect verify plus a dedup shuffle (expensive per pair —
    base threshold 2M); simhash candidates die in an inline bit-count
    filter (the ordinary sf0.1 corpus predicts 127M pairs yet streams
    them in ~1.3 s, and that corpus's real exact-dup mass makes
    rep·2 ≤ raw TRUE there — measured: collapsing it cost 2.6 s vs
    1.2 s sparse), so simhash's default is 100x the base and ordinary
    corpora stay on the sparse plan."""
    scale = 1
    if mod_col is not None and sample_mod > 1:
        b = b.filter(F.pmod(F.col(mod_col), F.lit(sample_mod)) == 0)
        scale = sample_mod
    row = (
        b.groupBy(*keys)
        .agg(F.count("*").alias("__n"),
             F.countDistinct(gkey).alias("__g"))
        .agg(F.sum(F.col("__n") * (F.col("__n") - 1) / 2).alias("__raw"),
             F.sum(F.col("__g") * (F.col("__g") - 1) / 2).alias("__rep"))
        .collect()[0]
    )
    raw = scale * int(row["__raw"] or 0)
    rep = scale * int(row["__rep"] or 0)
    if raw <= thresh:
        return "sparse"
    if rep * 2 <= raw:
        return "collapse"
    return "pin"


def _guard_decision(b: DataFrame, keys: list[str], gkey: str,
                    dense_threshold: int | None, *, scale: int = 1,
                    banded: bool = True,
                    mod_col: str | None = None) -> str:
    """The dense guard of one pair generator: resolve its threshold
    (``dense_threshold``, else ``scale`` × _DENSE_GUARD_THRESHOLD) and
    its row floor (_below_row_floor, one count() job, for ``banded``
    docs×bands layouts, unless a threshold was passed explicitly — that
    forces the stats job on a small corpus), then _dense_decision."""
    if dense_threshold is not None:
        return _dense_decision(b, keys, gkey, dense_threshold,
                               mod_col=mod_col)
    if banded and _below_row_floor(b.count()):
        return "sparse"
    return _dense_decision(b, keys, gkey, scale * _DENSE_GUARD_THRESHOLD,
                           mod_col=mod_col)


def _expand_rep_pairs(rep_pairs: DataFrame, reps: DataFrame,
                      members: DataFrame, metric_col: str,
                      within_value, within_filter: Column | None = None,
                      ) -> DataFrame:
    """Expand REPRESENTATIVE pairs back to member pairs.

    The dense-corpus branch of each pair generator collapses docs with
    identical collapse keys (identical shingle/token SETS, or identical
    simhash fingerprints) to one representative before the quadratic
    candidate join: a duplicate group of size k contributes k² candidate
    rows per shared bucket that one rep + this expansion reconstructs
    output-linearly. Exactness: the verified metric (Jaccard, hamming)
    is a function of the SET/fingerprint only, so every member pair of a
    verified rep pair carries the rep pair's metric verbatim, and every
    within-group pair scores the identity value (Jaccard 1.0 /
    hamming 0) without verification.

    ``rep_pairs``: (id_a, id_b, metric) over rep ids.
    ``reps``: (__gkey, __rid, ...) one row per group.
    ``members``: (__gkey, __id, ...) one row per doc.
    ``within_filter``: groups whose within pairs must NOT be emitted
    (e.g. empty shingle sets, whose Jaccard is null and filtered on the
    sparse path too).

    Plan: four slim joins (reps/rep_pairs are post-collapse — AQE
    broadcasts them when small) + one members self-join on __gkey for
    the within pairs. Output id order re-normalized with
    least/greatest: a member of group A may outrank a member of B even
    though rep_a < rep_b. NB: a single group of size k still emits its
    k·(k−1)/2 within pairs in the task owning its __gkey — that is
    output volume, not join blowup (no verify, no arrays, streams);
    corpora dominated by one giant exact-dup group should use
    dedup_clusters / index mode="reps" rather than all-pairs output."""
    mtype = dict(rep_pairs.dtypes)[metric_col]
    p = rep_pairs.sparkSession.sparkContext.defaultParallelism
    ga = reps.select(F.col("__rid").alias("id_a"), F.col("__gkey").alias("__ka"))
    gb = reps.select(F.col("__rid").alias("id_b"), F.col("__gkey").alias("__kb"))
    ma = members.select(F.col("__gkey").alias("__ka"), F.col("__id").alias("__ea"))
    mb = members.select(F.col("__gkey").alias("__kb"), F.col("__id").alias("__eb"))
    # width-pin the FIRST fan-out join (and the within self-join): these
    # are the same AQE blind spot the guard exists for — slim rep-pair
    # map bytes, output-proportional emission — so AQE would coalesce
    # them and fan the whole member expansion out of a few tasks on a
    # very dense corpus. One slim AQE-immune exchange each; the second
    # member join needs no pin because its input's map bytes are already
    # output-sized (AQE sizes it correctly from real volume).
    cross = (
        rep_pairs.join(ga, "id_a").join(gb, "id_b")
        .repartition(p, "__ka")
        .join(ma, "__ka").join(mb, "__kb")
        .select(F.least("__ea", "__eb").alias("id_a"),
                F.greatest("__ea", "__eb").alias("id_b"),
                F.col(metric_col))
    )
    wm = members if within_filter is None else members.filter(within_filter)
    wm = wm.repartition(p, "__gkey")
    within = (
        wm.alias("x")
        .join(wm.alias("y"),
              (F.col("x.__gkey") == F.col("y.__gkey"))
              & (F.col("x.__id") < F.col("y.__id")))
        .select(F.col("x.__id").alias("id_a"),
                F.col("y.__id").alias("id_b"),
                F.lit(within_value).cast(mtype).alias(metric_col))
    )
    return cross.unionByName(within)


def _minhash_candidates(a: DataFrame, b: DataFrame, id_pred: Callable,
                        ids: tuple[str, str] = _PAIR_IDS) -> DataFrame:
    """Distinct candidate id pairs of two (__id, __bucket) band-bucket
    frames under ``id_pred`` — ids[0] from ``a``, ids[1] from ``b``. The
    candidate stage of the sparse and dense minhash plans (one frame
    both sides, ``<``) and of the index probe (batch vs stored legs,
    ``!=``). Band-duplicate candidates dedup BEFORE the verify joins: a
    16-byte-row exchange here is far cheaper than verifying (and
    shuffling two shingle arrays for) the same pair once per colliding
    band."""
    x, y = ids
    return (
        a.alias("a")
        .join(b.alias("b"),
              (F.col("a.__bucket") == F.col("b.__bucket"))
              & id_pred(F.col("a.__id"), F.col("b.__id")))
        .select(F.col("a.__id").alias(x), F.col("b.__id").alias(y))
        .dropDuplicates([x, y])
    )


def _minhash_verify(cand: DataFrame, sa: DataFrame, sb: DataFrame,
                    threshold: float,
                    ids: tuple[str, str] = _PAIR_IDS) -> DataFrame:
    """Verify candidate pairs by exact Jaccard over (__id, __bh)
    shingle-hash frames: ``sa`` holds the ids[0] side, ``sb`` the ids[1]
    side — the shared tail of the sparse and dense minhash plans and the
    index probe. The batch plans pass ONE frame as both sides: the two
    joins then read the same subtree, whose exchanges/broadcasts are
    byte-identical, so Spark plans a ReusedExchange for the second join
    — the shingle sets are computed and moved ONCE, and no
    array-carrying groupBy exists at all (the former explode-legs +
    grouped-max plan shuffled every candidate's arrays a second time;
    measured -23% on the sf0.1 bench path)."""
    x, y = ids
    s = (cand
         .join(sa.select(F.col("__id").alias(x), F.col("__bh").alias("__sa")),
               x)
         .join(sb.select(F.col("__id").alias(y), F.col("__bh").alias("__sb")),
               y))
    # |A∪B| = |A| + |B| − |A∩B| over DISTINCT shingle sets: skips
    # materializing the union array per pair (sets are distinct by
    # construction in with_shingle_hashes)
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    uni = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    return (
        s.withColumn("jaccard", F.try_divide(inter, uni))
        .filter(F.col("jaccard") >= threshold)
        .select(x, y, "jaccard")
    )


def _minhash_pairs_dense(shingles: DataFrame, *, num_perm: int, bands: int,
                         threshold: float) -> DataFrame:
    """Rep-collapsed MinHash pair plan for duplicate-DENSE corpora, over
    the caller's (__id, __bh) shingle frame.

    Collapse key: xxhash64 of the SORTED shingle-hash set — docs with
    identical shingle sets have identical signatures, identical band
    buckets, and Jaccard 1.0 with each other, so one representative per
    set reproduces the sparse plan's output exactly (cross-group
    Jaccard is a set function; within-group pairs are 1.0 unless the
    set is empty, in which case the sparse verify yields null and drops
    them — the within_filter preserves that). 64-bit set-hash
    collisions merge two distinct sets once per ~2^64 — the same
    negligible-collision stance as the band buckets above.

    The LSH self-join then runs over REPS (duplicate mass gone — a
    group of k docs costs 1 bucket row instead of k² candidate rows per
    shared band) with an unconditional AQE-immune width pin, and
    member pairs are reconstructed output-linearly by
    _expand_rep_pairs. Measured (10x template corpus, 32 cores, warm):
    the unguarded sparse plan crawled 20+ min on 1-2 AQE-coalesced
    tasks; this branch returns the identical 250,600-pair set in
    single-digit seconds."""
    p = shingles.sparkSession.sparkContext.defaultParallelism
    keyed = shingles.select(
        "__id", "__bh",
        F.xxhash64(F.array_sort("__bh")).alias("__gkey"),
        F.size("__bh").alias("__nsh"))
    members = (keyed.select("__id", "__gkey", "__nsh")
               .localCheckpoint(eager=False))
    reps = (members.groupBy("__gkey")
            .agg(F.min("__id").alias("__rid"))
            .localCheckpoint(eager=False))
    rep_ids = reps.select(F.col("__rid").alias("__id"))
    # rep shingle sets: semi-join the (recomputed — house rule: a
    # scan-stage recompute beats shuffling every doc's array) shingle
    # stream against the collapsed id set; feeds both the signature
    # subtree and the verify texts
    rep_sh = keyed.join(rep_ids, "__id", "left_semi").select("__id", "__bh")
    sig = _minhash_sig(rep_sh, num_perm=num_perm)
    banded = _band_buckets(sig, num_perm=num_perm, bands=bands)
    b = (banded.localCheckpoint(eager=False)
         .repartition(p, "__bucket"))
    rep_pairs = _minhash_verify(_minhash_candidates(b, b, operator.lt),
                                rep_sh, rep_sh, threshold)
    return _expand_rep_pairs(rep_pairs, reps, members, "jaccard", 1.0,
                             within_filter=F.col("__nsh") > 0)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    guard: str = "auto",
    dense_threshold: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified by exact
    Jaccard over the shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    Plan: signature (no shuffle) -> explode bands (×bands rows) -> bucket
    self-join (shuffle on band hash) -> distinct candidates -> verify via
    exact Jaccard on the two shingle sets (array intersect/union on the
    joined pair only).

    The signature is a pure JVM expression fold (zero Python in the
    plan; see minhash_signature_from_hashes). The shingle-hash arrays
    that both the signature and the verify side need are computed twice,
    in two scan-stage passes with NO array shuffle: at corpus scale that
    recompute is cheaper than moving every document's shingle set over
    the network (a shared-exchange variant measured 0.89-1.07 s against
    0.55-0.71 s min-of-6 at sf0.1).

    ``guard`` (r12, default "auto"): the dense-corpus emission guard.
    After the banded rows are checkpointed, one cheap count-per-bucket
    aggregate predicts the candidate join's emission and how much of it
    is exact-duplicate mass (_dense_decision): past ``dense_threshold``
    (default _DENSE_GUARD_THRESHOLD) the plan either reroutes to the
    rep-collapsed branch (_minhash_pairs_dense — duplicate-dense
    corpora; identical output, no quadratic duplicate mass in the LSH
    join) or, when collapse wouldn't halve the emission (near-dup-dense
    — distinct sets sharing buckets), pins the sparse join's width to
    cluster parallelism, AQE-immune (the r11 manual width pin, now
    automatic). "off" restores the pure-lazy r11 plan (no
    stats job — the returned DataFrame triggers no work until acted
    on). The guard decision changes only the PLAN, never the result,
    so its data-dependence is safe. On a corpus dense enough to
    trigger collapse, the already-built sparse banding is discarded
    (detection needs the bucket distribution) — one wasted signature
    pass, dwarfed by the 20+ min single-task crawl it avoids
    (measured, 10x template corpus).

    ``shingles`` (r13): a pre-computed ``(__id, __bh)`` shingle-hash
    frame (the with_shingle_hashes output over the same corpus/k) to
    use for BOTH the signature and verify sides instead of shingling
    here. For a single pipeline the default recompute stays the right
    trade (see above), but when a caller runs TWO
    pipelines over one corpus (q_dedup_minhash's exact-recall gate vs
    production tuning), a caller-side lazy localCheckpoint of this
    frame shingles the corpus once for all four consumers instead of
    four times — with no shuffle (checkpoint partitions are read
    locally)."""
    # verify reads the same shingle frame: with ``shingles`` the
    # caller's checkpointed frame (local partition reads, no recompute
    # and no exchange), else a scan-stage recompute
    sh = (shingles.select("__id", "__bh") if shingles is not None
          else _shingle_hashes(fanout(df), text_col, id_col, shingle_k))
    shingled_in = sh
    if guard == "auto":
        # the guard's collapse key (hash of the sorted shingle SET)
        # rides through the signature/banding projections so one stats
        # aggregate over the checkpointed rows can split duplicate mass
        # from mere bucket heat — see _dense_decision
        shingled_in = sh.select(
            "__id", F.xxhash64(F.array_sort("__bh")).alias("__gkey"),
            "__bh")
    sig = _minhash_sig(shingled_in, num_perm=num_perm)
    banded = _band_buckets(sig, num_perm=num_perm, bands=bands)
    # within-bucket pairs via a bucket SELF-JOIN (r11 — the r8->r9
    # simhash lesson applied to minhash): the former
    # groupBy+collect_list+array pair expansion built each bucket's k²
    # pairs as ONE array in ONE task. "Buckets are tiny by construction"
    # is FALSE on a duplicate-dense corpus — identical docs share every
    # band bucket, so bucket size tracks the largest duplicate group
    # (measured on the 10x template corpus: the expansion crawled for
    # 20+ minutes on 1-2 cores and was killed; the self-join emits the
    # same candidate multiset in 3.8 s end-to-end, and is also ~30%
    # faster at bench scale: 0.65 vs 0.97 s warm min). The lazy
    # localCheckpoint materializes the 16-byte (id, bucket) rows once
    # so the signature subtree isn't computed per join side, and pairs
    # STREAM through join tasks instead of materializing per-bucket
    # arrays.
    b = banded.localCheckpoint(eager=False)
    if guard == "auto":
        # the stats job forces b's checkpoint materialization — work the
        # candidate join needs anyway, so the sparse path's extra cost
        # is one slim aggregate over the checkpointed rows
        decision = _guard_decision(b, ["__bucket"], "__gkey",
                                   dense_threshold, mod_col="__bucket")
        if decision == "collapse":
            return _minhash_pairs_dense(sh, num_perm=num_perm, bands=bands,
                                        threshold=threshold)
        if decision == "pin":
            b = b.repartition(
                df.sparkSession.sparkContext.defaultParallelism,
                "__bucket")
    # verify candidates only: exact Jaccard over shingle-HASH sets (same
    # value as over the strings — Jaccard sees only set membership, and
    # 64-bit collisions are negligible). NB: don't semi-join the shingle
    # sets against the candidate id set here — that would reference the
    # candidates three times and Spark re-executes the whole candidate
    # subtree per reference; re-shingling all docs once is the cheaper,
    # single-pass plan.
    return _minhash_verify(_minhash_candidates(b, b, operator.lt),
                           sh, sh, threshold)


def _plain_emission_sampled(df: DataFrame, text_col: str, id_col: str,
                            shingle_k: int, hot: DataFrame | None,
                            p: float = 0.05) -> int:
    """Doc-level-sampled emission estimate for the UNINDEXED
    inverted-token join: with each doc kept independently at rate
    ``p``, a token of document frequency d appears in the sample
    d_s ~ Binomial(d, p) times, and E[d_s·(d_s−1)] = p²·d·(d−1) — so
    Σ d_s·(d_s−1)/2 over the sampled tokens divided by p² is an
    unbiased estimator of the full join's emission Σ d·(d−1)/2.
    Sampling DOCS before shingling costs ~p of one scan pass instead
    of the full token aggregate the prefix path already owns. The
    estimate only ever picks between two EXACT plans, so its variance
    (high for rare tokens, concentrated for the hot/duplicated mass
    that matters) is safe — a boundary flip changes runtime, never
    output. ``hot``: the max_doc_freq stopword set, applied to the
    sample so the estimate sees the same token stream the join
    would."""
    samp = _shingle_hashes(df.sample(fraction=p, seed=42), text_col, id_col,
                           shingle_k).select(
        "__id", F.explode("__bh").alias("tok"))
    if hot is not None:
        samp = samp.join(hot, "tok", "left_anti")
    return int(_predicted_emission(samp, ["tok"]) / (p * p))


def jaccard_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 1,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    prefix_filter: bool | None = None,
    guard: str = "auto",
    dense_threshold: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard duplicate pairs via an inverted-index join —
    no LSH approximation, no O(n²) cross join.

    Hot shingles (stopwords) are THE skew risk at scale: a shingle in d
    docs contributes d² candidate pairs, so corpus-frequent shingles blow
    the inverted-index join up quadratically (measured: word-level
    jaccard over 5k docs with corpus-common words ran >20 min — one hot
    token's d² pairs land in one task). Two levers:

    - ``prefix_filter`` (EXACT — same output): the AllPairs / PPJoin
      prefix trick (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06 —
      public literature). Sort each doc's shingle set by ascending
      corpus document frequency (rarest first); for Jaccard >= t a pair
      must overlap in >= ceil(t*|A|) shingles, so any qualifying pair
      shares a shingle inside each side's FIRST |A| - ceil(t*|A|) + 1
      shingles. Index only those prefixes — the join volume drops from
      sum(df²) over all tokens to sum(df²) over RARE tokens — add the
      size filter (min >= t*max), then verify candidates with one exact
      array_intersect per pair. Threshold arithmetic for the candidate
      stage is integer-exact at 1e-6 grain ROUNDED DOWN (a slightly-low
      t only widens the candidate superset; the final filter applies
      the true float threshold), so no IEEE ceil(0.8*5)=5 miss is
      possible. Default is AUTO (None): on for shingle_k=1 (word-level,
      where stopword df makes brute quadratic — the >20-min case), off
      for k>=2 (k-shingles are usually rare, and the df-sort overhead
      costs ~2.75x when no token is hot: measured 8.0 s vs 2.9 s at
      sf0.1, k=3). At 100 TB, boilerplate-heavy corpora make even
      3-shingles hot — pass True explicitly there.
    - ``max_doc_freq`` (semantics-changing): drop shingles whose document
      frequency exceeds the cutoff — the standard stopword-filtered
      similarity. Sizes are recomputed over the REDUCED sets to keep
      numerator and denominator consistent. Composes with the prefix
      filter (applied first).
    ``guard``/``dense_threshold`` (r12): the dense-corpus emission
    guard — same contract as minhash_lsh_pairs. On the prefix path the
    stats run over the prefix rows; on the plain path a 5% doc sample
    estimates the join emission (_plain_emission_sampled) and a trigger
    reroutes to the prefix plan (exact — same output), whose guard then
    applies rep-collapse if the density is duplicate mass.

    The prefix path also applies PPJoin's POSITIONAL filter (Xiao et
    al., WWW'08): prefix tokens carry their position in the sorted token
    array, and a candidate occurrence is pruned join-locally when the
    suffixes past the matching positions cannot reach the required
    overlap t/(1+t)·(|a|+|b|). Scalars only (no array carry — a variant
    carrying prefix ARRAYS for exact-once emission measured 32% slower:
    28.6M wide join-output rows cost more than the 16-byte-row dedup
    shuffle they saved), exact by the earliest-shared-token argument
    (documented at the filter), and it cuts the candidate-dedup shuffle
    volume ~2× at sf0.1.
    """
    # explode shingle HASHES, not strings: Jaccard only needs set
    # membership, and the inverted-index shuffle moves 8-byte longs
    # instead of k-word strings (~4x less shuffle volume at scale)
    toks = _shingle_hashes(fanout(df), text_col, id_col, shingle_k).select(
        "__id", F.explode("__bh").alias("tok"))
    if max_doc_freq is not None:
        hot = (
            toks.groupBy("tok").agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("tok")
        )
        # anti join against the (small) hot-shingle set; Catalyst/AQE
        # broadcasts it when it fits, which it does by construction at any
        # sane cutoff
        toks = toks.join(hot, "tok", "left_anti")

    if prefix_filter is None:
        prefix_filter = shingle_k == 1
    if prefix_filter:
        return _jaccard_prefix_filtered(toks, threshold, guard=guard,
                                        dense_threshold=dense_threshold)

    if guard == "auto":
        thresh = (_DENSE_GUARD_THRESHOLD if dense_threshold is None
                  else dense_threshold)
        hot_f = hot if max_doc_freq is not None else None
        # the plain path computes no global aggregate the guard could
        # piggyback on, so its detector samples DOCS (5%) before
        # shingling — ~5% of one scan pass instead of a full token
        # aggregate; on trigger, reroute to the prefix-filtered plan
        # (EXACT — same output), whose own guard then decides whether
        # the density is exact-dup mass (rep-collapse) or merely hot
        # tokens (the prefix filter itself is the fix, and on a corpus
        # hot enough to trigger, the df-sort overhead that keeps the
        # prefix AUTO-off for k>=2 is exactly the trade that wins)
        if _plain_emission_sampled(df, text_col, id_col, shingle_k,
                                   hot_f) > thresh:
            return _jaccard_prefix_filtered(toks, threshold, guard="auto",
                                            dense_threshold=dense_threshold)

    sizes = toks.groupBy("__id").agg(F.count("*").alias("sz"))
    co = (
        toks.alias("a")
        .join(toks.alias("b"),
              (F.col("a.tok") == F.col("b.tok"))
              & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        co.join(sizes.withColumnRenamed("__id", "id_a")
                .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.try_divide(F.col("inter"),
                         F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


#: 1e-6 threshold quantization grain for the prefix/size/positional
#: filters — num/den rationals keep the candidate-stage bounds
#: integer-exact; quantizing DOWN only widens the candidate superset
#: (the verify step applies the true float threshold)
_JAC_DEN = 1_000_000


def _prefix_len(num: int, den: int) -> Column:
    """AllPairs prefix length sz - ceil(t*sz) + 1, integer-exact in
    long arithmetic over the quantized t = num/den (int cast safe:
    plen <= sz <= array max — and is what F.slice wants)."""
    return (F.col("sz")
            - F.floor((F.lit(num) * F.col("sz") + F.lit(den - 1))
                      / F.lit(den)).cast("long") + 1).cast("int")


def _prefix_rows(docs: DataFrame, num: int, den: int) -> DataFrame:
    """(__id, sz, pos, tok) prefix rows of a sorted-docs frame
    (__id, __toks, sz): each token of the first prefix-len tokens with
    its 1-based POSITION in the (df, tok)-sorted array — a scalar, so
    the positional filter runs in the join stage with zero extra
    width."""
    # extra columns (e.g. the guard's __gkey collapse key) ride along;
    # the index/probe paths pass exactly (__id, __toks, sz), so the
    # persisted prefix-leg schema is unchanged
    carry = [c for c in docs.columns if c not in ("__id", "__toks", "sz")]
    return (
        docs.select("__id", "sz", *carry, F.posexplode(
            F.slice("__toks", 1, _prefix_len(num, den))).alias("__p0", "tok"))
        .select("__id", "sz", *carry,
                (F.col("__p0") + 1).alias("pos"), "tok")
    )


def _size_ok(num: int, den: int) -> Column:
    """Size filter over aliases a/b: Jaccard >= t needs
    min(sz) >= t * max(sz)."""
    return (F.least("a.sz", "b.sz") * den
            >= F.greatest("a.sz", "b.sz") * num)


def _pos_ok(num: int, den: int) -> Column:
    """PPJoin positional filter (Xiao et al., WWW'08 — public
    literature) over aliases a/b: J >= t needs overlap
    i >= t/(1+t)*(sz_a+sz_b); matching at sorted positions
    (pos_a, pos_b), the intersection from this token onward is at most
    1 + min(sz_a-pos_a, sz_b-pos_b). For each pair's EARLIEST shared
    token there are no shared tokens before it, so the bound is exact
    there and a qualifying pair always survives; later (duplicate)
    emissions and hopeless candidates are pruned BEFORE the
    candidate-dedup shuffle (integer k >= rational q iff
    k*(num+den) >= num*(sz_a+sz_b); num is quantized DOWN, which only
    loosens the bound — exactness preserved)."""
    return (
        (F.lit(1) + F.least(F.col("a.sz") - F.col("a.pos"),
                            F.col("b.sz") - F.col("b.pos")))
        * F.lit(num + den)
        >= (F.col("a.sz") + F.col("b.sz")) * F.lit(num)
    )


def _jaccard_candidates(a: DataFrame, b: DataFrame, num: int, den: int,
                        id_pred: Callable,
                        ids: tuple[str, str] = _PAIR_IDS) -> DataFrame:
    """Prefix-token join of two prefix-row frames (+ size/positional
    filters) → distinct candidate id pairs under ``id_pred``, ids[0]
    from ``a`` and ids[1] from ``b`` — shared by the sparse and dense
    plans (one frame both sides, ``<``) and the index probe (batch vs
    stored prefixes, ``!=``)."""
    x, y = ids
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & id_pred(F.col("a.__id"), F.col("b.__id"))
            & _size_ok(num, den) & _pos_ok(num, den),
        )
        .select(F.col("a.__id").alias(x), F.col("b.__id").alias(y))
        .distinct()
    )


def _jaccard_verify(cand: DataFrame, da: DataFrame, db: DataFrame,
                    threshold: float,
                    ids: tuple[str, str] = _PAIR_IDS) -> DataFrame:
    """Re-attach both sides' sorted token arrays — ids[0] from the
    (__id, __toks, sz) frame ``da``, ids[1] from ``db`` — and apply the
    true float threshold: the verify tail of the sparse and dense plans
    (one docs frame both sides) and the index probe (batch vs stored
    docs)."""
    x, y = ids
    return (
        cand
        .join(da.select(F.col("__id").alias(x), F.col("__toks").alias("__ta"),
                        F.col("sz").alias("sz_a")), x)
        .join(db.select(F.col("__id").alias(y), F.col("__toks").alias("__tb"),
                        F.col("sz").alias("sz_b")), y)
        .withColumn("inter", F.size(F.array_intersect("__ta", "__tb")))
        .withColumn(
            "jaccard",
            F.try_divide(F.col("inter"),
                         F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(x, y, "jaccard")
    )


def _jaccard_pairs_dense(docs: DataFrame, threshold: float,
                         num: int, den: int) -> DataFrame:
    """Rep-collapsed exact-Jaccard pair plan for duplicate-DENSE
    corpora.

    Collapse key: xxhash64 of the doc's (df, tok)-sorted token array —
    identical token SETS sort to identical arrays under the global
    (df, tok) order, so one representative per set reproduces the
    sparse plan's output exactly (Jaccard is a set function;
    within-group pairs are exactly 1.0 — every doc in ``docs`` has
    >= 1 token by construction, since docs is grouped from the exploded
    token stream). Same negligible 2^-64 set-hash collision stance as
    the minhash collapse. The prefix self-join then runs over reps with
    an AQE-immune width pin; _expand_rep_pairs reconstructs member
    pairs output-linearly. ``docs``: the checkpointed
    (__id, __toks, sz) sorted-docs frame."""
    p = docs.sparkSession.sparkContext.defaultParallelism
    members = docs.select("__id", F.xxhash64("__toks").alias("__gkey"))
    reps = (members.groupBy("__gkey").agg(F.min("__id").alias("__rid"))
            .localCheckpoint(eager=False))
    rep_docs = (docs.join(reps.select(F.col("__rid").alias("__id")),
                          "__id", "left_semi")
                .localCheckpoint(eager=False))
    pref = _prefix_rows(rep_docs, num, den).repartition(p, "tok")
    rep_pairs = _jaccard_verify(
        _jaccard_candidates(pref, pref, num, den, operator.lt),
        rep_docs, rep_docs, threshold)
    return _expand_rep_pairs(rep_pairs, reps, members, "jaccard", 1.0)


def _jaccard_sorted_docs(toks: DataFrame, dfreq: DataFrame,
                         max_doc_freq: int | None) -> DataFrame:
    """(__id, __toks, sz) with each doc's tokens sorted rarest-first
    under the (df, tok) total order of ``dfreq`` — the sorted docs of
    the batch prefix plan (its own dfreq) and of the index legs (the
    frozen stored dfreq). A LEFT join: tokens absent from dfreq
    (probe-side tokens unseen at index build) rank df = 0 — they
    extend the frozen total order without reordering any
    stored prefix, which is what keeps incremental probes EXACT (the
    AllPairs/PPJoin prefix theorem needs only that both sides sort
    under one consistent total order; stored docs contain no unseen
    tokens, so their build-time sort already agrees with the extended
    order). ``max_doc_freq`` drops tokens whose FROZEN df exceeds the
    cutoff — dfreq must be the UNfiltered table so a probe can tell
    build-time-hot tokens (dropped, everywhere consistently) from
    unseen ones (df 0, kept); sizes are computed over the reduced sets
    so numerator and denominator stay consistent. sz is LONG — the
    filters multiply it by the 1e6-grain threshold rationals and int32
    would overflow under ANSI."""
    joined = (toks.join(dfreq, "tok", "left")
              .withColumn("__df", F.coalesce(F.col("__df"), F.lit(0))))
    if max_doc_freq is not None:
        joined = joined.filter(F.col("__df") <= max_doc_freq)
    return (
        joined
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "tok")))
             .alias("__st"))
        .select(
            "__id",
            F.transform("__st", lambda s: s["tok"]).alias("__toks"),
            F.size("__st").cast("long").alias("sz"),
        )
    )


def _jaccard_prefix_filtered(toks: DataFrame, threshold: float,
                             guard: str = "auto",
                             dense_threshold: int | None = None,
                             ) -> DataFrame:
    """Prefix-filtered exact Jaccard join over an exploded (__id, tok)
    table (see jaccard_dup_pairs docstring). One df aggregate, one
    prefix-token shuffle join (rare tokens only), one verify join.
    ``guard``/``dense_threshold``: the dense-corpus emission guard —
    stats over the PREFIX rows (a cheap projection of the checkpointed
    docs frame), reroute to _jaccard_pairs_dense past the threshold."""
    num, den = int(threshold * _JAC_DEN), _JAC_DEN
    # each doc's shingles sorted rarest-first under the corpus's own
    # (df, tok) order (every token is in its own dfreq, so the left
    # join keeps every row); max_doc_freq was already applied upstream
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
    # this subtree feeds FOUR plan sites (both prefix self-join sides +
    # both verify re-attach joins); exchange reuse only saves the
    # identical self-join sides, and AQE's broadcast of the re-attach
    # sides re-runs the whole shingle+df+sort aggregation each time
    # (measured: 4x ~6 s at sf0.1 — the row's dominant cost). A lazy
    # localCheckpoint materializes it once, distributed (executor-local
    # blocks, MEMORY_AND_DISK), same device dedup_clusters already uses.
    docs = _jaccard_sorted_docs(toks, dfreq, None).localCheckpoint(eager=False)
    pref = _prefix_rows(docs, num, den)
    if guard == "auto":
        # the stats job forces docs' checkpoint materialization — work
        # every later stage needs anyway; emission is measured on the
        # PREFIX rows (what the join actually sees, so stopword-df
        # alone does not false-trigger), with the token-SET hash as the
        # collapse key for the duplicate-mass split
        pref_g = _prefix_rows(
            docs.withColumn("__gkey", F.xxhash64("__toks")), num, den)
        # no bucket subsampling and no row floor here: prefix rows are
        # per-doc COMPRESSED (~prefix-len rows/doc) and their group count
        # is bounded by the distinct prefix vocabulary, so the stats job
        # is inherently cheap — and BOTH shortcuts misfire on this shape
        # (measured on the 10x template corpus: 261k prefix rows hide a
        # 4.5B-pair emission, under any row floor; and its ~60 distinct
        # hot tokens can ALL miss a mod-16 residue, sampling the stats
        # to zero). The 455 s sparse crawl those shortcuts caused vs
        # 13.5 s guarded is the round's measured counterexample.
        decision = _guard_decision(pref_g, ["tok"], "__gkey",
                                   dense_threshold, banded=False)
        if decision == "collapse":
            return _jaccard_pairs_dense(docs, threshold, num, den)
        if decision == "pin":
            pref = pref.repartition(
                docs.sparkSession.sparkContext.defaultParallelism, "tok")
    return _jaccard_verify(
        _jaccard_candidates(pref, pref, num, den, operator.lt),
        docs, docs, threshold)


def simhash_fingerprint_numpy(bits: int):
    """The SimHash majority vote as a pandas_udf mapping a doc's
    distinct-token-hash array straight to its fingerprint long — per
    row, bit b is set iff strictly more than half the token hashes carry
    bit b (the exact condition of the grouped plan's ±1 conditional
    sum: sum > 0 ⟺ 2·count_ones > n). BIT-EQUAL to that grouped-
    aggregate plan (:func:`_simhash_grouped`) by construction — the
    token hashes come from the same JVM expression and the per-bit
    counts are exact integer math — pinned by
    test_simhash_fp_numpy_bit_equal.

    Why it is the only production path: the grouped fingerprint needs
    an explode + a 63-conditional-sum groupBy whose plan build/codegen
    costs ~20 s FIXED per call regardless of data (r10 index_bench:
    simhash probe 23.6 s and extend 17-33 s flat at 1x and 10x corpus —
    plan cost, not data cost). This is one per-row (k × bits) bit-count
    per Arrow batch: no explode, no shuffle, no 63-aggregate plan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = np.arange(bits, dtype=np.int64)
    W = np.left_shift(np.int64(1), B)

    def _fp(th):
        out = np.zeros(len(th), dtype=np.int64)
        for i, lst in enumerate(th):
            h = np.asarray(lst, dtype=np.int64)
            # (h >> b) & 1 is bit b for ANY sign: arithmetic shift only
            # smears the sign ABOVE the extracted position
            c = ((h[:, None] >> B) & 1).sum(axis=0)
            out[i] = W[2 * c > len(h)].sum()
        return pd.Series(out)

    # explicit annotation objects: the module's `from __future__ import
    # annotations` leaves string hints pandas_udf can't resolve
    _fp.__annotations__ = {"th": pd.Series, "return": pd.Series}
    return pandas_udf(_fp, "long")


def _simhash_token_sql(token_hash: str) -> str:
    """SQL text hashing one token ``t`` to a long, per token family."""
    if token_hash == "xxhash64":
        return "xxhash64(t)"
    if token_hash == "md5":
        return "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
    raise ValueError(f"unknown token_hash: {token_hash}")


def simhash(df: DataFrame, text_col: str, id_col: str, *, bits: int = 63,
            token_hash: str = "xxhash64") -> DataFrame:
    """63-bit SimHash fingerprint per document (bit 63 omitted to stay in a
    signed long). Returns (id_col, simhash:long).

    Token hashes are a pure JVM expression (one transform over the
    distinct-token array); the per-bit majority vote happens in an Arrow
    batch (:func:`simhash_fingerprint_numpy`) — no explode, no grouped
    aggregation, and none of the 63-aggregate plan's ~20 s fixed build
    cost. Bit-equal to that grouped plan (:func:`_simhash_grouped`,
    pinned by test_simhash_fp_numpy_bit_equal).

    token_hash: "xxhash64" (default, fastest) or "md5" — a 60-bit hash
    derived from the first 15 hex chars of md5, reproducible in plain SQL
    (DuckDB: ('0x'||substring(md5(tok),1,15))::BIGINT) so the whole
    pipeline can be oracle-checked; bits 60-62 of the fingerprint are then
    constant 0, which costs nothing for recall (hamming distance ignores
    always-equal bits).

    Docs with null text have no tokens and are dropped. The fingerprint
    is per row, so ids should be unique (the standing dedup contract)."""
    h_sql = _simhash_token_sql(token_hash)
    qcol = text_col.replace("`", "``")
    arr = F.expr(
        f"transform(array_distinct(split(trim(lower(`{qcol}`)),"
        f" '\\\\s+')), t -> {h_sql})")
    # size() is -1 for a null token array (null text)
    return (
        fanout(df)
        .select(F.col(id_col).alias(id_col), arr.alias("__th"))
        .filter(F.size("__th") > 0)
        .select(id_col,
                simhash_fingerprint_numpy(bits)(F.col("__th"))
                .alias("simhash"))
    )


def _simhash_grouped(df: DataFrame, text_col: str, id_col: str, *,
                     bits: int = 63, token_hash: str = "xxhash64"
                     ) -> DataFrame:
    """The pure-JVM grouped-aggregate SimHash: tokens explode once; each
    bit is a conditional ±1 sum over token hashes in one grouped
    aggregation. Kept as the reference that :func:`simhash` is pinned
    bit-equal against (test_simhash_fp_numpy_bit_equal); ids must be
    unique, as duplicate-id rows would merge token sets."""
    toks = fanout(df).select(
        F.col(id_col).alias(id_col),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("t"),
    ).withColumn("h", F.expr(_simhash_token_sql(token_hash)))
    # parsed expr strings, not composed Column objects: the 63
    # conditional-sum aggregates plus the 63-term fingerprint sum cost
    # ~2.5 s of py4j round-trips per call the Column way (measured at
    # sf0.1); 64 parses of the same text are one hop each
    bit_sums = [
        F.expr(f"sum(case when (h & {1 << b}) != 0 then 1 else -1 end)"
               f" as b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = " + ".join(
        f"(case when b{b} > 0 then {1 << b} else 0 end)"
        for b in range(bits)
    )
    return agg.select(
        id_col, F.expr(f"cast({fp} as bigint) as simhash"))


def _simhash_chunk(col: Column, b: int, chunk: int) -> Column:
    """b-th ``chunk``-bit slice of a 64-bit fingerprint column."""
    return (F.shiftrightunsigned(col, b * chunk)
            .bitwiseAND(F.lit((1 << chunk) - 1)))


def _simhash_banded(fp: DataFrame, bands: int) -> DataFrame:
    """(__id, simhash, band, key) banded fingerprints over a
    (__id, simhash) frame — the shared banding for the self-join pair
    finder and the persisted index (identical slicing, so index probes
    and batch runs land in the same buckets)."""
    chunk = 64 // bands
    return fp.select(
        "__id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     _simhash_chunk(F.col("simhash"), b, chunk).alias("key"))
            for b in range(bands)
        ])).alias("bk"),
    ).select("__id", "simhash", "bk.band", "bk.key")


def _simhash_first_band(xor: Column, bands: int) -> Column:
    """0-based index of the FIRST band whose chunks agree (first zero
    chunk of the fingerprint XOR) — the canonical emission band, so a
    pair agreeing in several bands is emitted exactly once with no
    dropDuplicates pass."""
    chunk = 64 // bands
    return F.array_position(
        F.array(*[(_simhash_chunk(xor, i, chunk) == F.lit(0))
                  for i in range(bands)]),
        F.lit(True),
    ) - 1


def _simhash_validate(max_hamming: int, bands: int) -> None:
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}): "
            "a pair can differ in every chunk otherwise (recall loss)"
        )
    if bands > 63:
        raise ValueError(f"bands ({bands}) must be <= 63 (63-bit fingerprint)")


def _simhash_join(a: DataFrame, b: DataFrame, bands: int,
                  max_hamming: int, id_pred: Callable,
                  ids: tuple[str, str] = _PAIR_IDS) -> DataFrame:
    """(band, key) join of two banded-fingerprint frames under
    ``id_pred`` (ids[0] from ``a``, ids[1] from ``b``) with
    CANONICAL-BAND emission — the shared candidate+verify stage of the
    sparse and dense simhash plans (one frame both sides, ``<``) and the
    index probe (batch vs stored bands, ``!=``): a pair agreeing in
    several bands is emitted only by the FIRST band whose chunks agree
    (= first zero chunk of the fingerprint XOR — a pure bit
    expression), so no dropDuplicates pass over the raw candidate
    stream is needed. The r8 shape (bucket collect_list + O(k²)
    array-expression pair expansion + dedup shuffle) built the whole k²
    block of a hot bucket as ONE array in ONE task — at sf0.1 the
    largest bucket held 2642 docs = 3.5M structs in a single row, and
    the 23.4M-row dedup shuffle followed (measured 30 s; this shape is
    ~3 s). A join streams the same k² pairs through normal task
    parallelism, and the hamming + canonical-band filters run inside
    the join projection so only final pairs ever materialize."""
    x, y = ids
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & id_pred(F.col("a.__id"), F.col("b.__id")),
        )
        .filter((F.col("a.band") == _simhash_first_band(xor, bands))
                & (hamming <= F.lit(max_hamming)))
        .select(F.col("a.__id").alias(x), F.col("b.__id").alias(y),
                hamming.alias("hamming"))
    )


def _simhash_pairs_dense(fp: DataFrame, *, bands: int,
                         max_hamming: int) -> DataFrame:
    """Rep-collapsed simhash pair plan for duplicate-DENSE corpora.

    Collapse key: the FINGERPRINT itself — no hash-collision caveat at
    all (hamming is a function of the two fingerprints, so members of a
    fingerprint group are interchangeable: cross-group pairs carry the
    rep pair's hamming verbatim, within-group pairs are hamming 0,
    which every max_hamming >= 0 admits). The banded self-join runs
    over one rep per distinct fingerprint with an AQE-immune width pin;
    _expand_rep_pairs reconstructs member pairs output-linearly.
    ``fp``: the checkpointed (__id, simhash) frame."""
    p = fp.sparkSession.sparkContext.defaultParallelism
    reps = (fp.groupBy("simhash").agg(F.min("__id").alias("__rid"))
            .localCheckpoint(eager=False))
    rep_fp = reps.select(F.col("__rid").alias("__id"), "simhash")
    banded = (_simhash_banded(rep_fp, bands)
              .localCheckpoint(eager=False)
              .repartition(p, "band", "key"))
    rep_pairs = _simhash_join(banded, banded, bands, max_hamming,
                              operator.lt)
    members = fp.select(F.col("simhash").alias("__gkey"), "__id")
    reps_k = reps.select(F.col("simhash").alias("__gkey"), "__rid")
    return _expand_rep_pairs(rep_pairs, reps_k, members, "hamming", 0)


def simhash_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                      *, max_hamming: int = 3, bands: int | None = None,
                      token_hash: str = "xxhash64", guard: str = "auto",
                      dense_threshold: int | None = None) -> DataFrame:
    """Near-dup pairs with SimHash distance <= max_hamming, found by the
    pigeonhole trick: split the fingerprint into ``bands`` chunks — any
    pair within distance < bands shares at least one exact chunk, so a
    chunk-equality self-join finds all candidates; verify with popcount.
    Returns (id_a, id_b, hamming).

    Recall is exact ONLY when bands > max_hamming (pigeonhole needs more
    chunks than differing bits); bands defaults to max_hamming + 1 and an
    explicit smaller value raises rather than silently dropping pairs.
    More bands than the minimum trades candidate volume for nothing —
    keep the default unless distance-skew profiling says otherwise.

    ``guard``/``dense_threshold`` (r12): the dense-corpus emission
    guard — same contract as minhash_lsh_pairs (one count-per-bucket
    stats job; past the threshold the plan reroutes to the
    rep-collapsed _simhash_pairs_dense branch, identical output;
    "off" restores the pure-lazy plan)."""
    if bands is None:
        bands = max_hamming + 1
    _simhash_validate(max_hamming, bands)
    # the fingerprint is 16 bytes/doc — a lazy localCheckpoint
    # materializes it once so neither self-join side (nor an AQE
    # broadcast of one) re-runs the 63-bit aggregation over the token
    # explosion
    fp = (simhash(df, text_col, id_col, token_hash=token_hash)
          .withColumnRenamed(id_col, "__id")
          .localCheckpoint(eager=False))
    banded = _simhash_banded(fp, bands)
    if guard == "auto":
        # 100x the base threshold: simhash candidates cost ~1/100th of
        # a minhash/jaccard candidate (inline bit-count, no verify
        # join), and its coarse chunk keys make hot buckets NORMAL —
        # see the per-generator paragraph on _dense_decision. Stats run
        # over the banded rows (a cheap projection of the checkpointed
        # fp, which the join needs materialized anyway) with the
        # fingerprint itself as the collapse key — no set hash needed,
        # and the group count is bounded by bands·2^chunk, so no
        # bucket subsampling either. guard="off" restores the
        # pure-lazy r11 plan.
        decision = _guard_decision(banded, ["band", "key"], "simhash",
                                   dense_threshold, scale=100)
        if decision == "collapse":
            return _simhash_pairs_dense(fp, bands=bands,
                                        max_hamming=max_hamming)
        if decision == "pin":
            banded = banded.repartition(
                fp.sparkSession.sparkContext.defaultParallelism,
                "band", "key")
    return _simhash_join(banded, banded, bands, max_hamming, operator.lt)


#: fixed-point unit for cross-engine-exact cosine: products are rounded
#: once to 1e-9 units and summed as LONGS — exact, association-free, and
#: codegen-fast (a decimal-accumulator variant measured ~20x slower).
#: Unit sums stay far inside i64 for |element| < ~9 and dim <= ~1e6.
_COS_UNIT = 1_000_000_000.0


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns — JVM-side
    (zip_with + aggregate), no UDF.

    Cross-engine deterministic by construction: elements are promoted to
    double, each product is rounded ONCE to 1e-9 fixed-point units
    (double multiply + round — identical in any IEEE engine), and the
    sums run in exact integer arithmetic, so there is no float-sum
    association drift between engines or partitionings; the final
    divide/sqrt are single IEEE ops on identical inputs. (A plain double
    fold matched DuckDB's list_cosine_similarity only to the last ulp,
    and a cosine sitting on a round(·, 6) boundary flipped at sf0.1.)
    The 1e-9 quantization shifts the cosine by ~1e-8 relative — far
    below any near-duplicate threshold's meaningful resolution."""
    return cosine_from_units(dot_units(a, b), norm_units(a), norm_units(b))


def _prod_units(x: Column, y: Column) -> Column:
    return F.round(
        x.cast("double") * y.cast("double") * F.lit(_COS_UNIT)
    ).cast("long")


def norm_units(v: Column) -> Column:
    """Squared-norm of a vector in 1e-9 fixed-point units (long).

    Spark's higher-order lambdas are interpreted per element, so
    PRECOMPUTE this once per vector before any pairwise join — a
    cosine() call inside an n^2 join re-folds both norms per pair
    (measured 3x the pair stage's cost)."""
    return F.aggregate(
        v, F.lit(0).cast("long"),
        lambda acc, x: acc + _prod_units(x, x),
    )


def _vec_payload(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(__id, __v, __nu) rows: id, vector and its norm units, folded once
    per vector before any pairwise join (see norm_units)."""
    return df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__nu", norm_units(F.col("__v")))


def dot_units(a: Column, b: Column) -> Column:
    """Dot product in 1e-9 fixed-point units (long) — the only
    per-pair fold cosine needs when norms are precomputed."""
    return F.aggregate(
        F.zip_with(a, b, _prod_units),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )


def cosine_from_units(dot_u: Column, na_u: Column, nb_u: Column) -> Column:
    """Combine fixed-point dot/norm units into the cosine — single IEEE
    ops, identical in any engine. try_divide: zero vectors -> NULL
    similarity rather than an ANSI error."""
    unit = F.lit(_COS_UNIT)
    return F.try_divide(
        dot_u.cast("double") / unit,
        F.sqrt(
            (na_u.cast("double") / unit) * (nb_u.cast("double") / unit)
        ),
    )


def embedding_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                        *, threshold: float = 0.95,
                        impl: str = "expr",
                        nblocks: int | None = None) -> DataFrame:
    """EXACT cosine near-duplicate pairs (all-pairs). O(n²) compare with
    the smaller side broadcast — correct but quadratic: use as the
    verifier/oracle, or behind an LSH candidate filter (see
    similarity.knn_lsh) at corpus scale. Returns (id_a, id_b, cos).

    ``impl="expr"`` (default) scores every pair with the JVM
    fixed-point fold (cosine_from_units) — zero Python, the reference
    the block scorer is pinned bit-equal against.

    ``impl="block"`` (r9, fastest): never materializes the pair table
    at all — a blocked tagged-union scorer (see
    :func:`_embedding_pairs_block`). Rows hash into ``nblocks`` blocks;
    the full table replicates to every block (this is the quadratic
    verifier — replication is the job); each block task scores its
    block × everything as numpy outer products with the SAME
    per-product fixed-point rounding (bit-equal by construction,
    pinned by test_embedding_pandas_impl_bit_equal), and only rows
    passing the threshold leave Python. A per-pair Arrow scorer it
    replaced shipped every pair's two vectors through Arrow — 2M pairs
    × 128 doubles = ~2 GB at sf0.1 for a 920-row result; this ships
    n×nblocks input vectors and the result (sf0.1 gate row 32.1 s ->
    22.9 s).

    Rows with a null vector are dropped first: their cosine is null, so
    they can never reach the threshold."""
    if impl not in ("expr", "block"):
        raise ValueError(f"unknown impl: {impl!r} (expected 'expr' or "
                         "'block')")
    df = fanout(df.filter(F.col(vec_col).isNotNull()))
    if impl == "block":
        return _embedding_pairs_block(df, vec_col, id_col,
                                      threshold=threshold,
                                      nblocks=nblocks)
    v = _vec_payload(df, id_col, vec_col)
    pairs = (
        v.alias("a")
        .join(F.broadcast(v.alias("b")), F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            cosine_from_units(
                dot_units(F.col("a.__v"), F.col("b.__v")),
                F.col("a.__nu"), F.col("b.__nu"),
            ).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= threshold)


def score_units_block(A, B, ida, idb, thr):
    """numpy block cosine with the fixed-point per-product rounding of
    :func:`_prod_units` (bit-equal to the expression fold — shared by
    the all-pairs block scorer and the LSH bucket scorer). Returns
    (ii, jj, cos[ii, jj]) for pairs with ida<idb and cos >= thr.

    r10: a BLAS preselect replaces the all-pairs fixed-point outer
    product — the old shape materialized THREE (chunk, |B|, dim)
    temporaries per chunk for every pair (memory-bandwidth bound,
    ~19 s for 2k×2k×64 at sf0.1). Now a plain ``A @ B.T`` (double
    matmul, same exact-unit norms in the divide) selects candidates
    with a provable margin and ONLY those pairs get the exact
    fixed-point scoring, whose emitted values are bit-identical to
    before (same formula, same inputs).

    Superset argument for the margin: with the exact-unit norms shared
    by both paths, the preselect and the exact cosine differ only in
    the DOT — per-product quantization shifts it by <= 0.5e-9 * dim
    absolute, and double-matmul association error is ~dim * eps *
    |a||b| (~1e-13 here). For rows with norm² >= FAST_NORM_FLOOR the
    cosine difference is bounded by (0.5e-9*dim)/sqrt(na*nb) <=
    0.5e-9*dim/FAST_NORM_FLOOR (3.2e-5 at dim=64). The margin is
    derived FROM that bound — max(1e-3, 2x bound) — rather than a
    fixed constant: a fixed 1e-3 was only proven up to dim ~2000, and
    a high-dim low-norm pair inside the gap would be silently dropped
    from a documented-exact path (r10 ADVICE). The derivation is
    asserted in code. Rows BELOW the floor (quantization error / norm
    is unbounded there) and pairs with a non-finite preselect value
    skip the shortcut and are scored exactly, so no input shape can
    lose a pair.

    Rounding equivalence with :func:`_prod_units`: Spark's
    round(double) is BigDecimal HALF_UP on the SHORTEST decimal repr;
    ``units`` emulates sign*floor(abs+0.5) on the exact binary value.
    These can only disagree if a value and its shortest repr fall on
    opposite sides of a .5 boundary — impossible: k+0.5 is itself
    exactly representable at this magnitude (products <= ~1e9 << 2^52),
    so a double d != k.5 and its shortest repr are strictly on the same
    side, and d == k.5 ties round away from zero in both (HALF_UP / the
    floor(+0.5) emulation / DuckDB's half-away-from-zero in the
    oracle)."""
    import numpy as np

    def units(m):
        p = m * _COS_UNIT
        return (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(np.int64)

    FAST_NORM_FLOOR = 1e-3   # norm² units below which the bound dies
    # quantization bound at the norm floor, with 2x headroom (covers the
    # ~1e-13 matmul association term with decades to spare)
    _bound = 0.5e-9 * A.shape[1] / FAST_NORM_FLOOR
    FAST_MARGIN = max(1e-3, 2.0 * _bound)
    assert _bound < FAST_MARGIN, (A.shape[1], _bound, FAST_MARGIN)

    nb = units(B * B).sum(axis=1) / _COS_UNIT
    na = units(A * A).sum(axis=1) / _COS_UNIT
    fast_b = nb >= FAST_NORM_FLOOR
    out_i, out_j, out_c = [], [], []
    chunk = max(1, 5_000_000 // max(1, B.shape[0]))
    Bt = B.T
    for s in range(0, A.shape[0], chunk):
        Ac = A[s:s + chunk]
        nac = na[s:s + chunk]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos_a = (Ac @ Bt) / np.sqrt(nac[:, None] * nb[None, :])
        lt = ida[s:s + chunk, None] < idb[None, :]
        fast = ((nac >= FAST_NORM_FLOOR)[:, None] & fast_b[None, :]
                & np.isfinite(cos_a))
        sel = lt & (~fast | (cos_a >= thr - FAST_MARGIN))
        ii, jj = np.nonzero(sel)
        if not len(ii):
            continue
        # exact fixed-point scoring, selected pairs only
        dot = units(Ac[ii] * B[jj]).sum(axis=1) / _COS_UNIT
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / np.sqrt(nac[ii] * nb[jj])
        keep = np.isfinite(cos) & (cos >= thr)
        out_i.append(s + ii[keep])
        out_j.append(jj[keep])
        out_c.append(cos[keep])
    if not out_i:
        return (np.array([], dtype=int), np.array([], dtype=int),
                np.array([], dtype=float))
    return (np.concatenate(out_i), np.concatenate(out_j),
            np.concatenate(out_c))


def _pairs_schema(id_type) -> T.StructType:
    """(id_a, id_b, cos) output schema of the block scorers."""
    return T.StructType([T.StructField("id_a", id_type),
                         T.StructField("id_b", id_type),
                         T.StructField("cos", T.DoubleType())])


def _score_frames(pa, pb, thr: float):
    """(id_a, id_b, cos) pandas frame of the pairs between two
    (__id, __v) pandas frames that pass ``thr`` — score_units_block over
    the stacked vectors, shared by the all-pairs and LSH block
    scorers. Only same-length pairs are scored: the ``expr`` fold gives
    a cross-length pair a null cosine, which never passes ``thr``."""
    import numpy as np
    import pandas as pd

    la, lb = pa["__v"].map(len), pb["__v"].map(len)
    out_a, out_b = [pa["__id"].to_numpy()[:0]], [pb["__id"].to_numpy()[:0]]
    out_c = [np.empty(0, dtype=np.float64)]
    for d in set(la) & set(lb):
        a, b = pa[la == d], pb[lb == d]
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a["__v"]])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b["__v"]])
        ida, idb = a["__id"].to_numpy(), b["__id"].to_numpy()
        ii, jj, cc = score_units_block(A, B, ida, idb, thr)
        out_a.append(ida[ii])
        out_b.append(idb[jj])
        out_c.append(cc)
    return pd.DataFrame({"id_a": np.concatenate(out_a),
                         "id_b": np.concatenate(out_b),
                         "cos": np.concatenate(out_c)})


def _embedding_pairs_block(df: DataFrame, vec_col: str, id_col: str,
                           *, threshold: float,
                           nblocks: int | None) -> DataFrame:
    """Blocked all-pairs scorer (see embedding_dup_pairs impl="block").
    Rows hash into blocks (__side=0); the full table replicates to
    every block key (__side=1); ONE tagged union groups by block and
    each task computes its block's slice of the n² cosine matrix in
    numpy — per-product rounding identical to :func:`_prod_units`
    (see score_units_block), so values are bit-equal to the ``expr``
    fold. Inner chunking bounds the outer-product temp
    (chunk × n × dim) regardless of block size.

    Deliberately a tagged UNION + groupBy.applyInPandas rather than
    groupBy().cogroup(): the optimizer prunes a cogroup side's data
    columns when the query's output columns aren't all consumed
    (observed under .count(): the replicated side arrived with ONLY the
    key column and the UDF crashed) — a single grouped input never
    loses columns."""
    import pandas as pd

    spark = df.sparkSession
    if nblocks is None:
        nblocks = max(2, spark.sparkContext.defaultParallelism)
    v = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    blocked = v.select(
        "__id", "__v",
        F.pmod(F.xxhash64("__id"), F.lit(nblocks)).alias("__blk"),
        F.lit(0).alias("__side"))
    everything = v.select(
        "__id", "__v",
        F.explode(F.array(*[F.lit(i) for i in range(nblocks)]))
        .alias("__blk"),
        F.lit(1).alias("__side"))

    def _score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return _score_frames(pdf[pdf["__side"] == 0],
                             pdf[pdf["__side"] == 1], threshold)

    return (
        blocked.unionByName(everything)
        .groupBy("__blk")
        .applyInPandas(_score, _pairs_schema(df.schema[id_col].dataType))
    )


def dedup_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over duplicate PAIRS -> ``(doc_id,
    cluster_id)`` where ``cluster_id`` is the smallest id in the
    component — the step between pair generation (minhash_lsh_pairs /
    jaccard_dup_pairs / simhash_dup_pairs) and an actually deduplicated
    corpus: pick one canonical doc per cluster (reference analog: the
    dedup workflows its docs build from pair output; here it is a
    first-class operator).

    Min-label propagation with GRAPH CONTRACTION (r9; Kiveris et al.'s
    star-contraction family): each round computes every node's min
    direct neighbor (plus itself), pointer-doubles that mapping once
    (m <- m[m], so chains halve per round — O(log diameter)), applies
    it to the ORIGINAL labels, then REWRITES the edge set through the
    mapping, dropping self-loops and duplicates. On a contracted graph
    node ids ARE current labels, so the per-round min needs NO join at
    all (one grouped min over the edge list) — and near-dup graphs are
    clique-heavy, so the edge set collapses after round one (a k-clique's
    k² directed edges become self-loops the moment the clique agrees on
    a label; measured sf0.1: 5.9M edges -> 0 after two rounds). The
    pre-r9 shape kept the full 5.9M-edge list for every round and paid
    an edges-joins-labels shuffle each time. Converged = edge set empty.
    ``max_iter`` is the backstop.

    Scale shape: the (possibly expensive) pair pipeline is materialized
    ONCE into the edge list via ``localCheckpoint`` — without it every
    round would recompute the full upstream plan (an early version paid
    the whole Jaccard inverted-index join per round). No driver-side
    graph, no collect; only the emptiness boolean (a 1-row limit/count)
    reaches the driver each round. Executor-local checkpoint blocks are
    the documented durability tradeoff — use a checkpoint dir on a real
    cluster if executor loss matters mid-job.

    Only nodes that APPEAR in a pair come back (singletons are their own
    cluster trivially and stay out of the result — and out of the
    shuffle)."""
    # materialize the pair pipeline ONCE, symmetrize in the SAME pass
    # (explode of both directions, not a union of two selects — a union
    # evaluates the whole upstream pair pipeline once PER BRANCH, which
    # at sf0.1 was the full ~12 s Jaccard join run twice), and
    # checkpoint exactly once
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
        )).alias("__e"))
        .select("__e.src", "__e.dst")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    g = edges
    for _ in range(max_iter):
        # min over direct neighbors ∪ self — node ids in g are current
        # labels, so this is one grouped min, no label join
        m = (g.groupBy("src").agg(F.min("dst").alias("m"))
             .select(F.col("src").alias("n"),
                     F.least("src", "m").alias("m")))
        # pointer doubling: m <- m[m] (chains halve per round)
        m = (m.alias("x")
             .join(m.alias("y").withColumnRenamed("n", "__yn")
                   .withColumnRenamed("m", "__ym"),
                   F.col("x.m") == F.col("__yn"), "left")
             .select(F.col("x.n").alias("n"),
                     F.least("x.m", F.coalesce("__ym", "x.m")).alias("m"))
             .localCheckpoint(eager=True))
        # apply to the original nodes' labels
        labels = (
            labels.join(m, labels["label"] == m["n"], "left")
            .select("node",
                    F.least("label", F.coalesce("m", "label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        # contract the graph through the mapping; surviving edges are
        # exactly the not-yet-merged component bridges
        rs = m.select(F.col("n").alias("src"), F.col("m").alias("__ms"))
        rd = m.select(F.col("n").alias("dst"), F.col("m").alias("__md"))
        # relabeling a symmetric edge set keeps it symmetric — (a,b),(b,a)
        # map to (la,lb),(lb,la) — so no re-symmetrization pass is needed
        g = (
            g.join(rs, "src", "left").join(rd, "dst", "left")
            .select(F.coalesce("__ms", "src").alias("src"),
                    F.coalesce("__md", "dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct().localCheckpoint(eager=True)
        )
        if g.limit(1).count() == 0:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame, *,
                         id_col: str, id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Drop every non-canonical member of each duplicate cluster: keep
    the smallest id per connected component, plus all docs that have no
    duplicate at all. One anti join against the (small) loser set."""
    clusters = dedup_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


# -- persisted dedup indexes: one core, one _IndexFamily spec per family ----


@dataclass(frozen=True)
class _IndexFamily:
    """What one persisted-index family supplies to the shared core.

    ``format`` is the on-disk format version, bumped when the legs'
    CONTENT changes (minhash is at 2: r10 switched band buckets from
    32-bit hash() to xxhash64, and a format-1 index probed by format-2
    code SILENTLY returns no pairs); readers raise on any mismatch,
    including a missing field. ``meta_schema`` is the DDL of the build
    parameters in ``_meta`` (``format int`` follows them); ``legs`` are
    the appended leg directories, VERIFY leg first. The functions:
    ``batch_legs(df, text_col, id_col, path, params) -> {leg: frame}``
    (params = the stored meta for a build or append, the resolved probe
    params for a probe — only Jaccard's prefix length follows a probe
    override); ``probe_params(meta, **overrides)`` resolves and
    validates call-site overrides; ``probe(spark, path, legs, params)``
    returns verified (new_id, index_id, metric) rows; and
    ``intra_pairs(batch, text_col, id_col, params, legs, rows)`` returns
    the batch's own (id_a, id_b, metric) pairs for the ingest, given its
    ``rows`` count."""

    name: str
    format: int
    meta_schema: str
    legs: tuple[str, ...]
    metric: str
    batch_legs: Callable
    probe_params: Callable
    probe: Callable
    intra_pairs: Callable


_META_CASTS = {"int": int, "double": float, "string": str}


def _index_handle(spark, path: str) -> dict:
    """This session's handle on the index at ``path``: ``{"stamp",
    "meta", "schemas"}`` — the raw ``_meta`` row and each stored leg's
    inferred schema, filled on first read. Like RayforceDB's splayed
    ``.d`` schema file, ``_meta`` is the index's shape: the handle is
    keyed by a stamp of ``_meta``'s files (sorted name, mtime, length
    from one Hadoop ``listStatus``, no Spark job), so a rebuild in
    place, ``stamp_index_format`` or any other ``_meta`` rewrite starts
    a fresh handle that re-reads everything. Appends never change a
    leg's schema, so they keep the handle.

    Held on the session object, as ``session._resolved`` holds its
    tables: collected with the session, and ``spark.newSession()``
    starts empty (an ingest hands its own handles to every
    micro-batch's session wrapper, see _index_ingest). Without a
    ``_meta`` there is nothing to cache: the handle is a throwaway, and
    the ``_meta`` read raises as it always did."""
    from rayforce_spark.sources._sidecar import _fs_path

    fs, p = _fs_path(spark, f"{path}/_meta")
    if not fs.exists(p):
        return {"stamp": None, "meta": None, "schemas": {}}
    # stamp BEFORE reading: a _meta rewritten mid-read leaves an older
    # stamp, so the next call re-reads rather than keeping it
    stamp = sorted((f.getPath().getName(), f.getModificationTime(),
                    f.getLen()) for f in fs.listStatus(p))
    # qualified index path -> handle
    handles = getattr(spark, "_rayforce_index_handles", None)
    if handles is None:
        handles = spark._rayforce_index_handles = {}
    key = fs.makeQualified(p).getParent().toString()
    h = handles.get(key)
    if h is None or h["stamp"] != stamp:
        h = handles[key] = {"stamp": stamp, "meta": None, "schemas": {}}
    return h


def _read_leg(spark, path: str, leg: str) -> DataFrame:
    """A stored leg of the index at ``path``: the first read per handle
    infers its schema (one Spark job), every later read passes it."""
    h = _index_handle(spark, path)
    schema = h["schemas"].get(leg)
    if schema is not None:
        return spark.read.schema(schema).parquet(f"{path}/{leg}")
    df = spark.read.parquet(f"{path}/{leg}")
    h["schemas"][leg] = df.schema
    return df


def _read_meta(spec: _IndexFamily, spark, path: str) -> dict:
    """The stored build parameters, behind the format gate: mismatched
    on-disk hash/bucket families don't error at probe time, they return
    empty results, so the version check is the only loud failure. The
    row is read once per index handle; the gate runs on every call."""
    h = _index_handle(spark, path)
    if h["meta"] is None:
        h["meta"] = spark.read.parquet(f"{path}/_meta").collect()[0].asDict()
    meta = dict(h["meta"])
    got = meta.pop("format", None)
    if got != spec.format:
        raise ValueError(
            f"{spec.name} index at {path} has on-disk format {got!r} but "
            f"this build reads format {spec.format}: its stored buckets/"
            "prefixes were computed by an incompatible hash family, and "
            "probing it would silently return empty or incomplete pairs. "
            f"Rebuild it into a fresh path with set_{spec.name}_index.")
    return meta


def _write_meta(spec: _IndexFamily, spark, path: str, params: dict) -> None:
    """Write the ``_meta`` sidecar: the build parameters plus the
    family's on-disk format version, one row, one file."""
    fields = [f.split() for f in spec.meta_schema.split(",")]
    row = tuple(None if params[n] is None else _META_CASTS[t](params[n])
                for n, t in fields) + (spec.format,)
    (spark.createDataFrame([row], f"{spec.meta_schema}, format int")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta"))


def _write_legs(spec: _IndexFamily, path: str, legs: dict,
                mode: str) -> None:
    """Write a batch's legs in the family's order — VERIFY leg first,
    CANDIDATE leg second: a crash between two appends must not leave
    candidate rows whose pairs silently vanish at the verify join. With
    this order a torn extend leaves orphan verify rows (the doc is
    merely invisible to candidates, as if never ingested), and the retry
    re-appends both legs; the duplicate verify rows only multiply
    verify-join rows, which _probe_output's pair-key dedup collapses."""
    for leg in spec.legs:
        legs[leg].write.mode(mode).parquet(f"{path}/{leg}")


def _build_index(spec: _IndexFamily, spark, path: str, legs: dict,
                 params: dict) -> None:
    """Write a fresh index: legs first, the ``_meta`` sidecar LAST as
    the commit marker — a build into a FRESH path that dies mid-way
    leaves no sidecar, so probes fail loudly instead of banding against
    a half-built index. Rebuilding IN PLACE with different params is
    non-atomic under either write order (mismatched banding silently
    returns empty pair sets): rebuild into a fresh path. Ids must be
    unique across all batches ever written."""
    _write_legs(spec, path, legs, "overwrite")
    _write_meta(spec, spark, path, params)


def _lease(spark, path: str):
    """(fs, jpath) of the index's compaction lease marker."""
    from rayforce_spark.sources._sidecar import _fs_path

    fs, _ = _fs_path(spark, path)
    return fs, spark._jvm.org.apache.hadoop.fs.Path(f"{path}/_compacting")


def _check_compaction_lease(spark, path: str, family: str) -> None:
    """Raise if a compaction lease is held on the index — the ENFORCED
    form of the compaction concurrency contract. Compaction writes
    ``_compacting`` before snapshotting a leg's file list and removes
    it only after the old files are deleted; inside that window an
    extend would have its fresh rows read by the rewrite AND kept, and
    a probe can plan against files the rewrite then deletes
    (FileNotFoundException mid-job, or silently dropped rows under
    spark.sql.files.ignoreMissingFiles). A lease left by a CRASHED
    compaction keeps these failing loudly until the compaction is
    re-run (duplicate-tolerant — see _compact_leg). The check is
    advisory at the edges: a probe that passes it while compaction
    starts a moment later still races; the lease turns the common
    overlap from silent corruption into a loud error."""
    fs, jp = _lease(spark, path)
    if fs.exists(jp):
        raise RuntimeError(
            f"{family} index at {path} holds a compaction lease "
            "(_compacting): a compact_*_index run is in progress or "
            "crashed mid-rewrite. Re-run the compaction to completion "
            "(it is duplicate-tolerant and clears the lease), then "
            "retry this extend/probe.")


def _extend_index(spec: _IndexFamily, new_df: DataFrame, path: str,
                  text_col: str, id_col: str) -> None:
    """Append a batch to a persisted index under its stored ``_meta``
    parameters. The existing index files are untouched."""
    spark = new_df.sparkSession
    _check_compaction_lease(spark, path, spec.name)
    meta = _read_meta(spec, spark, path)
    _write_legs(spec, path,
                spec.batch_legs(new_df, text_col, id_col, path, meta),
                "append")


def _compact_leg(spark, path: str, leg: str) -> tuple[int, int]:
    """Compact ONE index leg directory in place: read it, collapse
    exact-duplicate rows (only torn/replayed appends produce them —
    every index-leg row kind is semantically idempotent, and the probes
    already pair-dedup, so collapsing is safe), rewrite as
    size-targeted files APPENDED to the same directory, then delete the
    pre-existing data files. Returns (files_before, files_after).

    Crash-safe by the same argument the extends use: a crash AFTER the
    append but before the deletes leaves every row present twice
    (probes tolerate duplicates by construction; re-running compaction
    collapses them and finishes), and a crash mid-delete leaves every
    row present at least once. No window loses rows, so a
    compact-then-crash is always recoverable by re-running. The
    eager localCheckpoint severs the read's lineage from the files
    being replaced (executor-local MEMORY_AND_DISK blocks hold the leg
    during the rewrite — on a real cluster the leg is spilled, not
    driver-collected)."""
    from rayforce_spark.sources._sidecar import _fs_path

    leg_path = f"{path}/{leg}"
    fs, p = _fs_path(spark, leg_path)
    # data files only: Spark ignores _*/.* (markers, _SUCCESS), and the
    # append below REwrites _SUCCESS at the same name — deleting it from
    # the before-list would remove the fresh one
    stats = [
        f for f in fs.listStatus(p)
        if f.isFile() and not f.getPath().getName().startswith(("_", "."))
    ]
    before = [f.getPath() for f in stats]
    total_bytes = sum(f.getLen() for f in stats)
    # ~128 MB per output file, floor 1 — NO parallelism floor: parquet
    # is row-group splittable, so a probe scan of few large files still
    # fans out to maxPartitionBytes-sized splits, while a parallelism
    # floor would UNDO compaction for any leg smaller than
    # cores x 128 MB (measured: it re-fragmented toy legs)
    target_files = int(total_bytes // (128 << 20)) + 1
    data = (_read_leg(spark, path, leg).dropDuplicates()
            .repartition(target_files)
            .localCheckpoint(eager=True))
    data.write.mode("append").parquet(leg_path)
    for f in before:
        fs.delete(f, False)
    after = sum(
        1 for f in fs.listStatus(p)
        if f.isFile() and not f.getPath().getName().startswith(("_", "."))
    )
    return len(before), after


def _compact_index(spec: _IndexFamily, spark, path: str) -> dict:
    """Compact an index's appended legs into size-targeted files — the
    maintenance op continuous ingestion needs (extends append
    up-to-parallelism fragments per micro-batch forever, until the
    probe-side file listing and tiny-split scans dominate). Probe
    results are IDENTICAL before and after. Checks ``_meta`` first,
    takes the ``_compacting`` LEASE, compacts each leg, then releases
    it — never on failure: the lease keeps readers loudly out until a
    re-run (idempotent, duplicate-tolerant) finishes the job. Returns
    {leg: {"files_before": n, "files_after": m}}."""
    _read_meta(spec, spark, path)  # format + existence gate
    fs, jp = _lease(spark, path)
    fs.mkdirs(jp)  # idempotent — a re-run after a crash re-takes it
    out = {
        leg: dict(zip(("files_before", "files_after"),
                      _compact_leg(spark, path, leg)))
        for leg in spec.legs
    }
    fs.delete(jp, True)
    return out


def _probe_output(verified: DataFrame, mode: str) -> DataFrame:
    """Shared output shaping for the index probes. ``mode="pairs"``
    emits every qualifying (new_id, index_id, score) row, pair-key
    deduped LAST so probes tolerate torn appends (duplicate index rows
    emit duplicate pairs with the same score). ``mode="reps"`` is the
    PAIR-FREE mode for dense corpora (a 10x template-dense probe spent
    358 s materializing 52.85M pairs a dedup consumer immediately
    collapses): one (new_id, rep_id) row per matched new doc, rep_id =
    its SMALLEST matching index id — idempotent over duplicate rows and
    map-side combined, so the O(dups²) pair set never crosses the
    shuffle. Against a canonical index (extended with SURVIVORS only)
    with monotone ids, rep_id IS the dedup_clusters∘pairs component
    representative (pinned by test_index_probe_reps_mode); otherwise it
    is still the smallest indexed duplicate, just not a component
    label."""
    if mode == "reps":
        return verified.groupBy("new_id").agg(
            F.min("index_id").alias("rep_id"))
    if mode != "pairs":
        raise ValueError(f"unknown mode: {mode!r} "
                         "(expected 'pairs' or 'reps')")
    return verified.dropDuplicates(["new_id", "index_id"])


def _index_pairs(spec: _IndexFamily, path: str, new_df: DataFrame,
                 text_col: str, id_col: str, mode: str,
                 **overrides) -> DataFrame:
    """Probe a NEW batch against a persisted index: lease check, the
    ``_meta`` read, the batch's legs under the resolved params, the
    family's probe join, then _probe_output. The indexed corpus is never
    re-shingled or re-fingerprinted; self-pairs on equal ids are
    excluded; intra-batch pairs are the batch pair generator's job."""
    spark = new_df.sparkSession
    _check_compaction_lease(spark, path, spec.name)
    params = spec.probe_params(_read_meta(spec, spark, path), **overrides)
    legs = spec.batch_legs(new_df, text_col, id_col, path, params)
    return _probe_output(spec.probe(spark, path, legs, params), mode)


def _index_ingest(spec: _IndexFamily, index_path: str, pairs_path: str,
                  text_col: str, id_col: str, *, intra_batch: bool,
                  compact_every: int | None,
                  **overrides) -> Callable[[DataFrame, int], None]:
    """The foreachBatch ingest every stream_*_index_ingest returns (the
    idempotency contract is documented on
    streaming.ops.stream_minhash_index_ingest): marker-skip, one lazy
    localCheckpoint of the micro-batch materialized by its row count
    (the only pass over the source), the ``_meta`` row and the stored
    legs' schemas from the session's index handle (no Spark job while
    ``_meta`` is unchanged — see _index_handle), and ONE build of the
    batch's legs — shared by the probe, the intra-batch pairs (below
    the dense guard's row floor minhash builds them from the batch's
    bucket and shingle legs instead of re-signing through
    minhash_lsh_pairs) and the append — then the overwrite pair
    partition, the append and the commit marker last.

    ``compact_every``: compact after every N-th committed batch.
    foreachBatch is the ONE place auto-compaction is safe by
    construction: micro-batches are serial, so the compaction window
    never overlaps this stream's own extends/probes. A compaction that
    crashed mid-rewrite leaves the lease held; the next batch sees it
    BEFORE touching the index and re-runs the compaction to completion,
    self-healing instead of wedging the stream on the lease error."""

    # PySpark hands each foreachBatch micro-batch a NEW Python
    # SparkSession object over the query's one JVM session: every batch
    # gets this ingest's one handles dict, so a stream's batches share
    # them as direct calls on one session do (a handle depends only on
    # the index files, which its stamp tracks, not on the session)
    handles: dict = {}

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark._rayforce_index_handles = handles
        fs, lease = _lease(spark, index_path)
        if fs.exists(lease):  # crashed compaction — finish it first
            _compact_index(spec, spark, index_path)
        marker = spark._jvm.org.apache.hadoop.fs.Path(
            f"{index_path}/_batches/batch-{batch_id}")
        if fs.exists(marker):
            return  # fully committed before a restart — replay is a no-op
        # freeze the micro-batch once: the probe, the intra-batch pairs,
        # the id anti-join and the append are separate Spark jobs, and
        # re-reading the source per job would re-pay the scan each time.
        # The row count is the job that materializes the lazy checkpoint
        batch_df = batch_df.localCheckpoint(eager=False)
        n = batch_df.count()
        if n > 0:
            meta = _read_meta(spec, spark, index_path)
            params = spec.probe_params(meta, **overrides)
            legs = spec.batch_legs(batch_df, text_col, id_col, index_path,
                                   meta)
            # cross pairs anti-join away the batch's OWN ids, so a replay
            # that finds the batch already appended emits the same set
            ids = batch_df.select(F.col(id_col).alias("__bid"))
            pairs = (
                _probe_output(spec.probe(spark, index_path, legs, params),
                              "pairs")
                .join(ids, F.col("index_id") == F.col("__bid"), "left_anti")
                .select(F.least("new_id", "index_id").alias("id_a"),
                        F.greatest("new_id", "index_id").alias("id_b"),
                        spec.metric)
            )
            if intra_batch:
                pairs = pairs.unionByName(spec.intra_pairs(
                    batch_df, text_col, id_col, params, legs, n))
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/batch={batch_id}")
            _check_compaction_lease(spark, index_path, spec.name)
            _write_legs(spec, index_path, legs, "append")
        fs.mkdirs(marker)  # the commit marker, written LAST
        # compaction AFTER the commit marker: a crash mid-compaction
        # replays nothing (the batch is committed) and the next batch
        # self-heals the lease
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            _compact_index(spec, spark, index_path)

    return _ingest


# -- minhash ---------------------------------------------------------------

def _minhash_legs(df: DataFrame, text_col: str, id_col: str, path: str,
                  p: dict) -> dict:
    """``shingles`` (__id, __bh) and ``buckets`` (__id, __bucket) of a
    batch, derived from ONE materialized shingle pass: the two legs feed
    independent Spark jobs (two writes, or a write and a join — in the
    ingest also the intra-batch bucket self-join, see _minhash_intra), and
    recomputing the shingles per job would persist INCONSISTENT legs for
    a non-deterministic input (sampled / rand-keyed / mutated-between-
    jobs sources) — a silent corruption of the exact-Jaccard verify, not
    an error. The lazy localCheckpoint materializes the shingled frame
    on first use and serves every later consumer from executor-local
    blocks.

    ``_meta``'s ``sig_impl`` column names the signature family; the
    expression fold ("expr") is the only one computed. An index written
    with another family has incompatible buckets, so it raises here,
    before any probe, extend or ingest could silently lose recall."""
    if p["sig_impl"] != "expr":
        raise ValueError(
            f"minhash index at {path} was built with sig_impl="
            f"{p['sig_impl']!r}, but this build only computes the 'expr' "
            "signature family: its stored buckets would not line up and "
            "probing it would silently miss pairs. Rebuild it into a "
            "fresh path with set_minhash_index.")
    shingled = _shingle_hashes(fanout(df), text_col, id_col,
                               p["shingle_k"]).localCheckpoint(eager=False)
    sig = _minhash_sig(shingled, num_perm=p["num_perm"])
    return {"shingles": shingled,
            "buckets": _band_buckets(sig, num_perm=p["num_perm"],
                                     bands=p["bands"])}


def _minhash_probe(spark, path: str, legs: dict, p: dict) -> DataFrame:
    """The batch's bucket rows join the on-disk bucket table (slim
    16-byte rows; AQE broadcasts the smaller side), candidate pairs
    dedup across bands, then exact Jaccard verifies via ONE join to the
    batch's shingle sets and ONE to the persisted ones."""
    # fanout the INDEX leg scan: a small/fresh index arrives as few
    # parquet splits, and with the batch side broadcast the candidate
    # join's entire emission runs on those splits' task count — measured
    # single-task at the 10x corpus (the leg was ONE file). Round-robin
    # widening is skew-free here (index-side hot buckets spread across
    # tasks; the broadcast batch reaches all of them) and a no-op at
    # real scale, where index legs always carry more splits than cores.
    idx = fanout(_read_leg(spark, path, "buckets"))
    cand = _minhash_candidates(legs["buckets"], idx, operator.ne, _PROBE_IDS)
    return _minhash_verify(cand, legs["shingles"],
                           _read_leg(spark, path, "shingles"),
                           p["threshold"], _PROBE_IDS)


def _minhash_intra(batch: DataFrame, text_col: str, id_col: str, p: dict,
                   legs: dict, rows: int) -> DataFrame:
    # bucket rows are exactly rows x bands: below the dense guard's row
    # floor its answer is always "sparse", so the pairs are that plan
    # over the batch's own legs — the bucket projection the probe and
    # the append use, with no minhash_lsh_pairs re-signing, no second
    # checkpoint and no guard count job
    if _below_row_floor(rows * p["bands"]):
        sh = legs["shingles"]
        return _minhash_verify(
            _minhash_candidates(legs["buckets"], legs["buckets"],
                                operator.lt),
            sh, sh, p["threshold"])
    # at or above it the guard protects a dense batch; the shingle leg
    # still serves its signature and verify sides
    return minhash_lsh_pairs(
        batch, text_col, id_col, threshold=p["threshold"],
        num_perm=p["num_perm"], bands=p["bands"],
        shingle_k=p["shingle_k"], shingles=legs["shingles"])


_MINHASH = _IndexFamily(
    name="minhash", format=2,
    meta_schema="num_perm int, bands int, shingle_k int, sig_impl string",
    legs=("shingles", "buckets"), metric="jaccard",
    batch_legs=_minhash_legs,
    probe_params=lambda meta, threshold: {**meta, "threshold": threshold},
    probe=_minhash_probe, intra_pairs=_minhash_intra)


def _read_minhash_meta(spark, path: str) -> dict:
    # a named binding: perfbench's traced corpus_ingest run wraps it
    return _read_meta(_MINHASH, spark, path)


def set_minhash_index(corpus: DataFrame, path: str, text_col: str,
                      id_col: str, *, num_perm: int = 64, bands: int = 16,
                      shingle_k: int = 3) -> None:
    """Persist a MinHash-LSH dedup INDEX — the continuous-ingestion
    twin of :func:`minhash_lsh_pairs` (same shape as
    similarity.set_ivf's train-once/probe-many layout). Writes under
    ``path``:

    - ``_meta``      — the banding parameters, the signature family
      (``sig_impl``, always "expr") and the on-disk format
      version (probes and extensions MUST band identically or buckets
      don't line up; they read this sidecar rather than trusting
      call-site kwargs, and raise on a format mismatch), written LAST
      as the commit marker (see _build_index),
    - ``shingles``   — (__id, __bh shingle-hash array): the exact-
      Jaccard verify side,
    - ``buckets``    — (__id, __bucket), bands rows per doc, 16 bytes
      each: the slim candidate-join side.

    Scale: a new batch joins the on-disk bucket table and re-reads
    NOTHING else of the old corpus — no re-shingling, no re-signing,
    no corpus shuffle; index bytes are O(corpus × bands) longs plus
    the shingle sets."""
    params = {"num_perm": num_perm, "bands": bands,
              "shingle_k": shingle_k, "sig_impl": "expr"}
    _build_index(_MINHASH, corpus.sparkSession, path,
                 _minhash_legs(corpus, text_col, id_col, path, params),
                 params)


def extend_minhash_index(new_df: DataFrame, path: str, text_col: str,
                         id_col: str) -> None:
    """Append a new batch to a persisted MinHash index (banding
    parameters come from the index's own ``_meta`` sidecar) — the
    ingest step of the dedup-then-extend loop."""
    _extend_index(_MINHASH, new_df, path, text_col, id_col)


def compact_minhash_index(spark, path: str) -> dict:
    """Compact a persisted MinHash index's appended legs (see
    _compact_index). Safe between ingest batches, never concurrently
    with an extend or a probe — the ``_compacting`` lease makes those
    raise while it is held (_check_compaction_lease); streaming ingest
    compacts safely via ``compact_every``."""
    return _compact_index(_MINHASH, spark, path)


def minhash_index_pairs(path: str, new_df: DataFrame,
                        text_col: str, id_col: str, *,
                        threshold: float = 0.7,
                        mode: str = "pairs") -> DataFrame:
    """Near-duplicate pairs of a NEW batch against a persisted MinHash
    index (see :func:`set_minhash_index`): returns (new_id, index_id,
    jaccard) with jaccard >= threshold — or, with ``mode="reps"``, one
    (new_id, rep_id) row per matched new doc (pair-free output for
    dense corpora; see :func:`_probe_output`) — exact-verified, identical
    family and banding as the index (read from ``_meta``), so a doc
    re-probed against an index containing itself pairs with exactly
    its true near-duplicates (self-pairs on equal ids are excluded).
    Intra-batch pairs are minhash_lsh_pairs(new_df)'s job."""
    return _index_pairs(_MINHASH, path, new_df, text_col, id_col, mode,
                        threshold=threshold)


# -- simhash ---------------------------------------------------------------

def _simhash_legs(df: DataFrame, text_col: str, id_col: str, path: str,
                  p: dict) -> dict:
    """``banded`` (__id, simhash, band, key): ``bands`` rows per doc
    carrying the full fingerprint, so a probe join verifies hamming in
    the join projection with no second lookup. The 16-byte fingerprint
    is checkpointed lazily, so a probe and an append of the same batch
    fingerprint it once."""
    fp = (simhash(df, text_col, id_col, token_hash=p["token_hash"])
          .withColumnRenamed(id_col, "__id")
          .localCheckpoint(eager=False))
    return {"banded": _simhash_banded(fp, p["bands"])}


def _simhash_probe_params(meta: dict, max_hamming: int | None = None) -> dict:
    # any max_hamming BELOW the stored bands keeps exact recall (the
    # pigeonhole bound depends only on bands); >= bands raises
    if max_hamming is None:
        max_hamming = meta["max_hamming"]
    _simhash_validate(max_hamming, meta["bands"])
    return {**meta, "max_hamming": max_hamming}


def _simhash_probe(spark, path: str, legs: dict, p: dict) -> DataFrame:
    """The batch's banded fingerprints join the on-disk banded table on
    (band, key) — 28-byte rows either side, AQE broadcasts the batch
    when it's small — with hamming + canonical-band (exactly-once)
    filters inside the join projection."""
    # fanout: same index-leg scan-parallelism guard as _minhash_probe
    return _simhash_join(legs["banded"],
                         fanout(_read_leg(spark, path, "banded")),
                         p["bands"], p["max_hamming"], operator.ne,
                         _PROBE_IDS)


def _simhash_intra(batch: DataFrame, text_col: str, id_col: str, p: dict,
                   legs: dict, rows: int) -> DataFrame:
    return simhash_dup_pairs(batch, text_col, id_col,
                             max_hamming=p["max_hamming"], bands=p["bands"],
                             token_hash=p["token_hash"])


_SIMHASH = _IndexFamily(
    name="simhash", format=1,
    meta_schema="max_hamming int, bands int, token_hash string",
    legs=("banded",), metric="hamming",
    batch_legs=_simhash_legs, probe_params=_simhash_probe_params,
    probe=_simhash_probe, intra_pairs=_simhash_intra)


def set_simhash_index(corpus: DataFrame, path: str, text_col: str,
                      id_col: str, *, max_hamming: int = 3,
                      bands: int | None = None,
                      token_hash: str = "xxhash64") -> None:
    """Persist a SimHash dedup INDEX — the continuous-ingestion twin of
    :func:`simhash_dup_pairs`, so day-2 ingestion never
    re-fingerprints the corpus. Writes under ``path`` the ``_meta``
    sidecar (max_hamming, bands, token_hash, format; written LAST — see
    _build_index) and the ``banded`` leg (see _simhash_legs)."""
    if bands is None:
        bands = max_hamming + 1
    _simhash_validate(max_hamming, bands)
    params = {"max_hamming": max_hamming, "bands": bands,
              "token_hash": token_hash}
    _build_index(_SIMHASH, corpus.sparkSession, path,
                 _simhash_legs(corpus, text_col, id_col, path, params),
                 params)


def extend_simhash_index(new_df: DataFrame, path: str, text_col: str,
                         id_col: str) -> None:
    """Append a new batch to a persisted SimHash index (fingerprint and
    banding parameters come from the index's own ``_meta`` sidecar)."""
    _extend_index(_SIMHASH, new_df, path, text_col, id_col)


def compact_simhash_index(spark, path: str) -> dict:
    """SimHash twin of :func:`compact_minhash_index` (one leg:
    ``banded``)."""
    return _compact_index(_SIMHASH, spark, path)


def simhash_index_pairs(path: str, new_df: DataFrame, text_col: str,
                        id_col: str, *,
                        max_hamming: int | None = None,
                        mode: str = "pairs") -> DataFrame:
    """Near-dup pairs of a NEW batch against a persisted SimHash index
    (see :func:`set_simhash_index`): returns (new_id, index_id,
    hamming) with hamming <= max_hamming — or one (new_id, rep_id) row
    per matched new doc with ``mode="reps"`` (see :func:`_probe_output`)
    — exact recall by the same pigeonhole argument as
    simhash_dup_pairs, banding from the index's ``_meta``.
    ``max_hamming`` defaults to the index's; any override BELOW the
    stored ``bands`` keeps exact recall, while >= bands raises."""
    return _index_pairs(_SIMHASH, path, new_df, text_col, id_col, mode,
                        max_hamming=max_hamming)


# -- exact Jaccard ---------------------------------------------------------

def _jaccard_batch_toks(df: DataFrame, text_col: str, id_col: str,
                        shingle_k: int) -> DataFrame:
    """Exploded (__id, tok) shingle-hash stream for the Jaccard index
    legs, materialized once (localCheckpoint) so the dfreq/docs/prefix
    legs stay consistent for non-deterministic inputs — the same
    contract as _minhash_legs."""
    return _shingle_hashes(fanout(df), text_col, id_col, shingle_k).select(
        "__id", F.explode("__bh").alias("tok")).localCheckpoint(eager=False)


def _jaccard_toks_legs(toks: DataFrame, dfreq: DataFrame, p: dict) -> dict:
    """``docs`` (sorted rarest-first, exact-verify side) and
    ``prefixes`` (AllPairs prefix rows at ``p["threshold"]``, the slim
    candidate-join side) of a token stream under a frozen ``dfreq``."""
    docs = _jaccard_sorted_docs(toks, dfreq, p["max_doc_freq"]) \
        .localCheckpoint(eager=False)
    return {"docs": docs,
            "prefixes": _prefix_rows(docs, int(p["threshold"] * _JAC_DEN),
                                     _JAC_DEN)}


def _jaccard_legs(df: DataFrame, text_col: str, id_col: str, path: str,
                  p: dict) -> dict:
    # a batch sorts under the index's FROZEN token order (stored dfreq;
    # unseen tokens df=0; stored max_doc_freq drops the same tokens the
    # build dropped)
    return _jaccard_toks_legs(
        _jaccard_batch_toks(df, text_col, id_col, p["shingle_k"]),
        _read_leg(df.sparkSession, path, "dfreq"), p)


def _jaccard_probe_params(meta: dict, threshold: float | None = None) -> dict:
    # any threshold >= the stored one stays exact (stored prefixes are a
    # superset of what a higher threshold needs); lower loses recall
    if threshold is None:
        threshold = meta["threshold"]
    if threshold < meta["threshold"]:
        raise ValueError(
            f"probe threshold {threshold} is below the index's "
            f"{meta['threshold']}: stored prefixes are too short for it "
            "(recall loss) — rebuild the index at the lower threshold")
    return {**meta, "threshold": threshold}


def _jaccard_probe(spark, path: str, legs: dict, p: dict) -> DataFrame:
    """The batch's prefix rows join the on-disk prefix table on tok with
    the size + positional filters in the join condition, candidate pairs
    dedup, then one join to the batch's sorted docs and one to the
    stored docs verifies with exact array_intersect."""
    num, den = int(p["threshold"] * _JAC_DEN), _JAC_DEN
    # fanout the index prefix scan — same single-task-emission hazard
    # as _minhash_probe; on a template-dense corpus the quadratic
    # candidate emission otherwise runs on ONE task (r11: the 10x probe
    # was single-core for minutes)
    idx_pref = fanout(_read_leg(spark, path, "prefixes"))
    # the batch pref side inherits the sorted-docs aggregate's
    # AQE-coalesced partitioning (ONE partition for a small batch) —
    # if AQE broadcasts the index side instead, the batch becomes the
    # stream and the emission single-cores; an unconditional
    # repartition is batch-sized, slim rows, and AQE-immune
    pref = legs["prefixes"].repartition(spark.sparkContext.defaultParallelism)
    cand = _jaccard_candidates(pref, idx_pref, num, den, operator.ne,
                               _PROBE_IDS)
    return _jaccard_verify(cand, legs["docs"],
                           _read_leg(spark, path, "docs"),
                           p["threshold"], _PROBE_IDS)


def _jaccard_intra(batch: DataFrame, text_col: str, id_col: str, p: dict,
                   legs: dict, rows: int) -> DataFrame:
    return jaccard_dup_pairs(batch, text_col, id_col,
                             shingle_k=p["shingle_k"],
                             threshold=p["threshold"],
                             max_doc_freq=p["max_doc_freq"])


_JACCARD = _IndexFamily(
    name="jaccard", format=1,
    meta_schema="shingle_k int, threshold double, max_doc_freq int",
    legs=("docs", "prefixes"), metric="jaccard",
    batch_legs=_jaccard_legs, probe_params=_jaccard_probe_params,
    probe=_jaccard_probe, intra_pairs=_jaccard_intra)


def set_jaccard_index(corpus: DataFrame, path: str, text_col: str,
                      id_col: str, *, shingle_k: int = 1,
                      threshold: float = 0.8,
                      max_doc_freq: int | None = None) -> None:
    """Persist an exact n-gram-Jaccard dedup INDEX — the
    continuous-ingestion twin of :func:`jaccard_dup_pairs`
    (prefix_filter path). Writes under ``path``:

    - ``_meta``     — (shingle_k, threshold, max_doc_freq, format);
      written LAST (commit marker, see _build_index),
    - ``dfreq``     — the corpus (tok, df) table: the FROZEN total
      order every later probe and extension sorts under; written once
      here and never appended (so compaction skips it),
    - ``docs``      — (__id, __toks sorted rarest-first, sz): the
      exact-verify side,
    - ``prefixes``  — (__id, sz, pos, tok) AllPairs prefix rows at the
      stored threshold: the slim candidate-join side.

    Exactness under incremental use: the prefix theorem requires only
    ONE consistent total order across both join sides — it is frozen
    here as (df-at-build, tok). Probe-side tokens unseen at build rank
    df = 0 (they extend the order; no stored array reorders), and a
    probe threshold >= the stored one keeps stored prefixes a superset
    of what that threshold needs. What DOES drift as the corpus grows
    is prefix EFFECTIVENESS, not correctness: a token that was rare at
    build time but becomes corpus-hot generates ever more candidates
    (all still exactly verified). Rebuild the index periodically — into
    a fresh path — when probe cost creeps; ``max_doc_freq`` is likewise
    frozen at build (stored df decides which tokens are dropped
    everywhere, so numerator and denominator stay consistent)."""
    toks = _jaccard_batch_toks(corpus, text_col, id_col, shingle_k)
    # dfreq persists UNfiltered — probes need the frozen df of every
    # token the build saw, including the hot ones max_doc_freq drops
    # (otherwise a probe would mistake a build-time-hot token for an
    # unseen rare one and sort it FIRST)
    toks.groupBy("tok").agg(F.count("*").alias("__df")) \
        .write.mode("overwrite").parquet(f"{path}/dfreq")
    spark = corpus.sparkSession
    params = {"shingle_k": shingle_k, "threshold": threshold,
              "max_doc_freq": max_doc_freq}
    legs = _jaccard_toks_legs(toks, spark.read.parquet(f"{path}/dfreq"),
                              params)
    _build_index(_JACCARD, spark, path, legs, params)


def extend_jaccard_index(new_df: DataFrame, path: str, text_col: str,
                         id_col: str) -> None:
    """Append a new batch to a persisted Jaccard index under its frozen
    token order and stored threshold (both from ``_meta``). dfreq is NOT
    updated (the frozen order is the exactness contract — see
    set_jaccard_index's drift note)."""
    _extend_index(_JACCARD, new_df, path, text_col, id_col)


def compact_jaccard_index(spark, path: str) -> dict:
    """Jaccard twin of :func:`compact_minhash_index` (legs ``docs`` and
    ``prefixes``; ``dfreq`` is never appended, so it needs no
    compaction)."""
    return _compact_index(_JACCARD, spark, path)


def jaccard_index_pairs(path: str, new_df: DataFrame, text_col: str,
                        id_col: str, *,
                        threshold: float | None = None,
                        mode: str = "pairs") -> DataFrame:
    """EXACT Jaccard near-dup pairs of a NEW batch against a persisted
    Jaccard index: returns (new_id, index_id, jaccard) with jaccard >=
    threshold — or, with ``mode="reps"``, one (new_id, rep_id) row per
    matched new doc (see :func:`_probe_output`) — the same result a
    full jaccard_dup_pairs run over index-corpus ∪ batch would emit for
    cross pairs, by the frozen-order prefix argument (see
    set_jaccard_index). ``threshold`` defaults to the index's; any
    override >= the stored value stays exact; lower raises — the stored
    prefixes are too short for it."""
    return _index_pairs(_JACCARD, path, new_df, text_col, id_col, mode,
                        threshold=threshold)


_STAMPABLE = {"simhash": _SIMHASH, "jaccard": _JACCARD}


def stamp_index_format(spark, path: str, family: str) -> None:
    """One-shot ``_meta`` migration for a PRE-VERSIONING simhash or
    jaccard index: those families' on-disk leg content is identical to
    format 1 (only minhash actually changed content, in the r10
    32-bit→xxhash64 bucket-key switch), so an index written before
    format versioning existed can be stamped format-1 in place instead
    of paying a full rebuild for bytes that didn't change. Refuses
    minhash (its unversioned content is format-0 by definition —
    rebuild with set_minhash_index) and refuses an already-versioned
    sidecar. The sidecar overwrite is not atomic — run this as the
    one-shot maintenance op it is, not concurrently with readers."""
    if family not in _STAMPABLE:
        raise ValueError(
            f"stamp_index_format supports simhash/jaccard, not {family!r}: "
            "an unversioned minhash index predates the r10 bucket-hash "
            "change and its stored buckets ARE incompatible — rebuild it "
            "with set_minhash_index.")
    # the row is collected driver-side BEFORE the overwrite of the files
    # it was read from, and the stale file-listing cache is dropped
    # afterwards (an overwritten path otherwise serves FileNotFound)
    row = spark.read.parquet(f"{path}/_meta").collect()[0].asDict()
    if row.get("format") is not None:
        raise ValueError(
            f"{family} index at {path} already carries on-disk format "
            f"{row['format']} — nothing to migrate.")
    _write_meta(_STAMPABLE[family], spark, path, row)
    spark.catalog.refreshByPath(f"{path}/_meta")
