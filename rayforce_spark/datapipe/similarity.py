"""Similarity search over embedding columns (array<float>).

knn_cosine — exact brute-force top-k: broadcast the (small) query set,
score every corpus row with JVM-side expressions, window top-k per query.
This is the baseline/verifier; cost is O(corpus × queries).

knn_lsh — the scale path: random-hyperplane LSH. Each vector gets
``tables`` bucket keys (sign-bit signatures of ``planes`` fixed
pseudo-random hyperplanes); queries probe only their buckets, exact cosine
re-ranks within. Hyperplanes are derived deterministically from a seed so
plans are reproducible and no state needs shipping. Recall is tunable via
(planes, tables); an IVF variant would swap hyperplanes for k-means
centroids — same bucket-join shape.
"""

from __future__ import annotations

import math
import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rayforce_spark.datapipe.dedup import (
    _vec_payload,
    cosine_from_units,
    dot_units,
    norm_units,
)


def _dot_double(a, b) -> F.Column:
    """Plain double dot product — one multiply-add per element, no
    round/cast. ~Last-ulp association drift between engines/partitionings
    is possible, so this is the PRODUCTION scoring path; the fixed-point
    path stays the cross-engine-exact default for oracle gating."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def knn_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 10,
    query_id_col: str | None = None,
    score: str = "fixed",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos, rank) with rank 1..k, ties broken
    by neighbor id (deterministic). No driver collect — the query side is
    broadcast, scoring is a single pass over the corpus.

    ``score``: "fixed" (default) uses the 1e-9 fixed-point integer fold —
    bit-identical across engines and partitionings (what the DuckDB oracle
    gate needs); "double" is the production path — a plain double fold,
    ~25-35% faster per pair (no per-element round+cast), at the cost of
    last-ulp association sensitivity that no ranking threshold resolves."""
    qid = query_id_col or id_col
    fixed = score == "fixed"
    nrm = norm_units if fixed else (
        lambda v: _dot_double(v, v)
    )
    # norms fold once per side BEFORE the cross join (HOF lambdas are
    # interpreted — per-pair refolds cost 3x the scoring stage)
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", nrm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", nrm(F.col("__cv")))
    cos_expr = (
        cosine_from_units(
            dot_units(F.col("__qv"), F.col("__cv")),
            F.col("__qn"), F.col("__cn"),
        ) if fixed else F.try_divide(
            _dot_double(F.col("__qv"), F.col("__cv")),
            F.sqrt(F.col("__qn") * F.col("__cn")),
        )
    )
    return _top_k(F.broadcast(q).crossJoin(c).select(
        "query_id", "neighbor_id", cos_expr.alias("cos"),
    ), k)


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, neighbor_id, cos) rows per query with
    their 1-based rank: cos descending, ties to the smaller
    neighbor_id — the re-rank tail of every top-k search here."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, planes: int, table: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (Box-Muller over a
    splitmix-style integer stream) — pure Python at plan time, tiny."""
    def stream(i: int) -> float:
        # splitmix64 -> uniform (0,1)
        x = (seed + 0x9E3779B97F4A7C15 * (i + 1) + table * 0x632BE59BD9B4E019) & ((1 << 64) - 1)
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
        x ^= x >> 31
        return (x + 1) / (1 << 64)

    out = []
    for p in range(planes):
        vec = []
        for d in range(0, dim, 2):
            u1 = stream(p * dim + d)
            u2 = stream(p * dim + d + 1)
            r = math.sqrt(-2.0 * math.log(u1))
            vec.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                vec.append(r * math.sin(2 * math.pi * u2))
        out.append(vec[:dim])
    return out


def _sql_arr(vec: list[float]) -> str:
    """A literal array<double> as SQL text. ``repr(float)`` is the
    shortest string that round-trips binary64 and Spark's parser is
    correctly rounded, so the planned value is bit-identical to an
    F.lit chain (verified) — but ONE F.expr hop instead of dim+1 py4j
    round trips (a 16-plane LSH key pair measured 6.4 s of plan build
    the Column way, ~0.1 s as SQL text). Non-finite values (a NaN
    centroid coordinate from a NaN embedding reaching Lloyd's mean)
    render as string-cast literals — repr would produce 'nanD'/'infD',
    which the parser reads as column identifiers."""
    def lit(w: float) -> str:
        w = float(w)
        if math.isnan(w):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(w):
            return f"CAST('{'-' if w < 0 else ''}Infinity' AS DOUBLE)"
        return f"{w!r}D"

    return "array(" + ",".join(lit(w) for w in vec) + ")"


def _qname(col_name: str) -> str:
    """Backtick-quote a TOP-LEVEL column name for SQL text. Every
    caller passes an engine-internal alias ("__v", "__qv", "__cv") —
    the public entry points resolve the user's vec_col through F.col
    (which handles dotted/nested references) into such an alias before
    any SQL-text builder runs, so a name like "meta.emb" never reaches
    here (where it would quote as one literal identifier and fail
    analysis). Guarded by test_lsh_nested_vec_col."""
    return "`" + col_name.replace("`", "``") + "`"


def _bucket_key(vec_name: str, hyperplanes) -> F.Column:
    """Sign-bit signature of the vector column (BY NAME) against each
    hyperplane -> long. Built as one SQL string — see _sql_arr. The
    pure-JVM reference the Arrow keys (_bucket_keys_pandas) are pinned
    bit-equal against, and the key of the streaming LSH dedup."""
    v = _qname(vec_name)
    terms = []
    for i, plane in enumerate(hyperplanes):
        dot = (f"aggregate(zip_with({v}, {_sql_arr(plane)},"
               " (x, y) -> x * y), 0.0D, (acc, e) -> acc + e)")
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << i}L ELSE 0L END)")
    return F.expr("(" + " + ".join(terms) + ")")


def _bucket_keys_pandas(dim: int, planes: int, tables: int, seed: int):
    """Arrow twin of _bucket_key for ALL tables at once: embedding ->
    array<long> of ``tables`` bucket keys, one numpy batch pass.

    BIT-EQUAL to the expr path by construction: the plane dot is
    accumulated SEQUENTIALLY over dimensions (one vectorized
    multiply-then-add per dimension, binary64 both ways), which is the
    exact rounding sequence of the interpreted aggregate(zip_with) fold
    — numpy's own dot/sum would pairwise-split the reduction and could
    flip a sign at a bucket boundary. Pinned by
    test_lsh_bucket_keys_pandas_bit_equal.

    Why it is the batch path: the HOF fold is interpreted
    row-at-a-time JVM-side (no codegen), so tables x planes x dim
    multiply-adds per row ran ~4 s single-core on a 1-split input at
    sf0.1; this is two matrix ops per Arrow batch and parallelizes with
    input splits the same way.

    Degenerate inputs follow the expr path's null story: a null vector
    or a length != dim vector keys to 0 for every table (any null in
    the fold nulls the dot; CASE null>=0 is false for every plane).
    NaN elements match too (r10): Spark's NaN ordering makes NaN >= 0
    TRUE, so a nan-poisoned dot sets the bit — the twin reproduces that
    with an explicit isnan-or (numpy's native NaN >= 0 is false, which
    silently flipped bucket keys before; pinned by
    test_lsh_bucket_keys_nan_bit_equal). A NaN embedding in a 100 TB
    corpus thus degrades recall identically on both paths instead of
    diverging between them."""
    import numpy as np
    import pandas as pd

    flat = []
    for t in range(tables):
        flat.extend(_hyperplanes(dim, planes, t, seed))
    W = np.asarray(flat, dtype=np.float64).T.copy()  # dim x (tables*planes)
    weights = np.left_shift(np.int64(1), np.arange(planes, dtype=np.int64))

    def keys(vs):
        n = len(vs)
        out = np.zeros((n, tables), dtype=np.int64)
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vs), bool, n)
        if ok.any():
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v, o in zip(vs, ok) if o])
            acc = np.zeros((M.shape[0], W.shape[1]))
            for d in range(dim):  # sequential over dims = fold order
                acc += M[:, d][:, None] * W[d]
            # Spark orders NaN above every number, so CASE NaN >= 0 is
            # TRUE on the expr path — mirror it (numpy would say False)
            bits = ((acc >= 0.0) | np.isnan(acc)).reshape(-1, tables,
                                                          planes)
            out[ok] = (bits * weights).sum(axis=2, dtype=np.int64)
        return pd.Series(list(out))

    # explicit annotation objects: the module's `from __future__ import
    # annotations` leaves string hints pandas_udf can't resolve without
    # module-global pandas
    keys.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(keys, T.ArrayType(T.LongType()))


def _bucket_structs(vec_name: str, *, dim: int, planes: int, tables: int,
                    seed: int) -> F.Column:
    """array<struct<tbl:int, key:long>> of all ``tables`` bucket keys
    for the vector column (BY NAME) — the shared bucket constructor for
    every batch LSH consumer, built on the Arrow keys
    (_bucket_keys_pandas)."""
    ks = _bucket_keys_pandas(dim, planes, tables, seed)(F.col(vec_name))
    return F.transform(
        ks, lambda k, i: F.struct(i.cast("int").alias("tbl"),
                                  k.alias("key")))


def _sq_dist_sql(vec_name: str, centroid: list[float]) -> str:
    """Squared L2 distance of a vector column (BY NAME) to a literal
    centroid, as SQL text."""
    v = _qname(vec_name)
    return (f"aggregate(zip_with({v}, {_sql_arr(centroid)},"
            " (x, y) -> (x - y) * (x - y)), 0.0D, (acc, e) -> acc + e)")


def _nearest(vec_name: str, centroids: list[list[float]],
             nprobe: int) -> F.Column:
    """Indices of the ``nprobe`` nearest centroids as array<int> —
    array_sort over (distance, index) structs, lexicographic min first.
    One SQL string (see _sql_arr): nlist x dim literals as Columns cost
    a py4j hop per element. The pure-JVM reference the Arrow assignment
    (_nearest_pandas) is pinned bit-equal against."""
    scored = "array(" + ",".join(
        f"struct({_sq_dist_sql(vec_name, c)} AS d, {i} AS i)"
        for i, c in enumerate(centroids)
    ) + ")"
    return F.expr(f"transform(slice(array_sort({scored}), 1, {int(nprobe)}),"
                  " s -> s.i)")


def _nearest_pandas(centroids: list[list[float]], nprobe: int):
    """Arrow twin of _nearest: embedding -> array<int> of the nprobe
    nearest centroid indices, one numpy batch pass. BIT-EQUAL ranking
    to the expr path: squared distances accumulate SEQUENTIALLY over
    dimensions ((x-y)*(x-y) then add, binary64 — the interpreted
    fold's exact rounding sequence), and a stable argsort reproduces
    the (distance, index) lexicographic order. Degenerate rows (null
    vector, length != dim) yield [0..nprobe-1], exactly the expr
    path's all-null-distance tie-break (verified); NaN elements also
    agree (r10, pinned by test_ivf_nearest_nan_bit_equal): a NaN
    distance sorts LAST on both paths (Spark orders NaN above every
    number; numpy's stable argsort places NaN at the end), and ties —
    all-NaN rows or equal finite distances — fall back to ascending
    centroid index on both (Spark's struct comparison treats NaN ==
    NaN and compares i; stable argsort preserves input order). Why it
    is the only assignment path: the fold is interpreted row-at-a-time
    JVM-side, so corpus × nlist × dim multiply-adds dominate IVF
    assignment — the 100 TB cost of set_ivf/knn_ivf's corpus pass, not
    just a gate-seconds issue. Pinned by
    test_ivf_nearest_pandas_bit_equal. Call it as
    ``_nearest_pandas(centroids, nprobe)(F.col(vec_name))``."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)  # nlist x dim
    nlist, dim = C.shape
    base = np.arange(min(nprobe, nlist), dtype=np.int32)

    def nn(vs):
        n = len(vs)
        out = np.tile(base, (n, 1))
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vs), bool, n)
        if ok.any():
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v, o in zip(vs, ok) if o])
            acc = np.zeros((M.shape[0], nlist))
            for d in range(dim):  # sequential over dims = fold order
                t = M[:, d][:, None] - C[:, d]
                acc += t * t
            order = np.argsort(acc, axis=1, kind="stable")
            out[ok] = order[:, :len(base)].astype(np.int32)
        return pd.Series(list(out))

    nn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(nn, T.ArrayType(T.IntegerType()))


def ivf_train(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    nlist: int = 16,
    iters: int = 5,
    max_train_rows: int = 10_000,
    corpus_rows: int | None = None,
) -> list[list[float]]:
    """Train IVF centroids: distributed deterministic sampling, then
    Lloyd's iterations driver-side in numpy over the bounded sample.

    The training sample is deterministic WITHOUT a global sort (an
    orderBy(hash).limit would top-k per partition and merge
    num_partitions x k vector rows driver-side — a scale-killer at
    100 TB partition counts): a count sizes a hash threshold that keeps
    ~1.2x the target rows in one scan-stage filter, and only that small
    surviving set is hash-sorted to pin the exact sample. Init takes the
    nlist hash-smallest rows, so the whole procedure is reproducible with
    no RNG state to ship.

    r13 (guide §1.2/§2.6): the Lloyd iterations themselves moved from
    per-iteration Spark jobs (assignment pandas_udf + Summarizer.mean
    collect — 2 jobs × iters, ~1.9 s of mostly scheduling at gate
    scale) to ONE bounded Arrow collect of the sample plus driver-side
    numpy. The sample is ≤ max_train_rows × dim doubles: bounded by
    max_train_rows, not by corpus size, yet not small at high dim
    (10,000 × 1,024-dim vectors = 82 MB). Training is now count + 1
    collect = ≤ 2 jobs; the 100 TB cost — the corpus scan that sizes
    and filters the sample, and the full-corpus ASSIGNMENT in
    knn_ivf/set_ivf — stays distributed and unchanged. Numerics: the assignment distance accumulates
    SEQUENTIALLY over dimensions, the exact rounding sequence of the
    corpus assignment (_nearest_pandas), with the same
    NaN-sorts-last and degenerate-row story; per-cluster means
    accumulate in sample order (np.add.at), which differs from the old
    Summarizer partition-merge order by last-ulp rounding only — the
    trained centroids are an approximation either way, every probe
    re-ranks with exact cosine, and the knn_recall gate margins were
    re-measured unchanged-to-better at all three SFs (OPTIMIZATION_r13).

    ``corpus_rows``: pass the row count when the pipeline already knows
    it, to skip the sizing scan — otherwise training pays one extra
    full corpus pass per train run (r9 verdict item 5). Pass an OVER-
    not under-estimate: the estimate only sizes the keep fraction, and
    the result stays deterministic either way (the hash sort + limit
    re-pins the same exact sample), but an overestimate merely risks a
    sample — still deterministic — short of max_train_rows, while an
    underestimate WIDENS the keep fraction toward keep-everything,
    degenerating the sizing filter into the full-corpus global
    hash-sort the filter exists to avoid (a cost cliff, not a
    correctness one — r10 ADVICE).
    """
    import numpy as np
    import pyarrow.compute as pc

    v = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    n = corpus_rows if corpus_rows is not None else v.count()
    bucket_mod = 1 << 20
    h = F.pmod(F.xxhash64(F.col("__id")), F.lit(bucket_mod))
    # keep ~1.2x the target; a keep fraction >= 1 makes the filter a
    # no-op, so apply it unconditionally rather than gating on
    # n > max_train_rows (the old gate silently skipped the filter for
    # any corpus_rows <= max_train_rows, accurate or not)
    if n > 0:
        keep = min(bucket_mod, int(bucket_mod * 1.2 * max_train_rows / n) + 1)
        if keep < bucket_mod:
            v = v.filter(h < keep)
    # the ONE training action: the hash-pinned sample, collected in its
    # deterministic order as one Arrow column (no per-row Python Rows)
    sample = (v.orderBy(F.xxhash64(F.col("__id")))
              .limit(max_train_rows).select("__v").toArrow())
    vecs = sample.column("__v").combine_chunks()
    # init from the first nlist NON-NULL sample vectors (null elements
    # read as NaN, as in the means below): a null vector has no
    # coordinates to seed a centroid with
    centroids = [[float("nan") if x is None else float(x) for x in vec]
                 for vec in vecs.filter(pc.is_valid(vecs))
                 .slice(0, nlist).to_pylist()]
    if not centroids:
        # empty (or all-null-vector) corpus: no centroids to train —
        # callers (knn_ivf) handle [] by returning no neighbors
        return centroids
    dim = len(centroids[0])
    # degenerate sample rows (null / wrong-length vectors) are excluded
    # from the means (assignment of the CORPUS still routes them to
    # list 0 via _nearest_pandas); null elements read as NaN
    ok = pc.fill_null(pc.equal(pc.list_value_length(vecs), dim), False)
    M = (pc.list_flatten(vecs.filter(ok)).to_numpy(zero_copy_only=False)
         .astype(np.float64).reshape(-1, dim))
    if M.size == 0:
        return centroids
    for _ in range(iters):
        C = np.asarray(centroids, dtype=np.float64)
        acc = np.zeros((M.shape[0], C.shape[0]))
        for d in range(dim):  # sequential over dims = the fold order
            t = M[:, d][:, None] - C[:, d]
            acc += t * t
        # stable argsort, first column: lexicographic (distance, index)
        # min with NaN sorting last — _nearest_pandas's exact tie story
        assign = np.argsort(acc, axis=1, kind="stable")[:, 0]
        sums = np.zeros_like(C)
        counts = np.zeros(C.shape[0], dtype=np.int64)
        np.add.at(sums, assign, M)  # unbuffered: sums in sample order
        np.add.at(counts, assign, 1)
        # empty clusters keep their previous centroid
        centroids = [
            [float(x) for x in (sums[i] / counts[i])] if counts[i] else c
            for i, c in enumerate(centroids)
        ]
    return centroids


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    centroids: list[list[float]] | None = None,
    query_id_col: str | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus vectors
    are bucketed by nearest k-means centroid, queries probe their
    ``nprobe`` nearest lists, exact cosine re-ranks the candidates.

    Same bucket-join shape as knn_lsh with learned buckets instead of
    random hyperplanes: one shuffle join on the centroid id, top-k window
    per query. Pass ``centroids`` to reuse a trained index (train once,
    probe many — the production shape); otherwise ivf_train runs first.
    Returns (query_id, neighbor_id, cos, rank)."""
    qid = query_id_col or id_col
    if centroids is None:
        centroids = ivf_train(
            corpus, vec_col, id_col, nlist=nlist, iters=iters,
            corpus_rows=corpus_rows,
        )
    if not centroids:
        # empty corpus trains zero centroids; F.array() of no columns has
        # no element type and breaks _nearest — the correct result is
        # simply no neighbors, with the contract schema (dtypes derived
        # from the inputs, not hardcoded)
        return _no_neighbors(queries, qid, corpus.schema[id_col].dataType)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__list", _nearest_pandas(centroids, 1)(F.col("__cv"))[0])
    return _ivf_top_k(c, queries, qid, vec_col, centroids, nprobe, k)


def _no_neighbors(queries: DataFrame, qid: str, id_type) -> DataFrame:
    """The zero-row (query_id, neighbor_id, cos, rank) result of a probe
    against an index with no centroids."""
    return (queries.select(F.col(qid).alias("query_id")).limit(0)
            .withColumn("neighbor_id", F.lit(None).cast(id_type))
            .withColumn("cos", F.lit(0.0))
            .withColumn("rank", F.lit(1)))


def _ivf_top_k(c: DataFrame, queries: DataFrame, qid: str, vec_col: str,
               centroids: list[list[float]], nprobe: int,
               k: int) -> DataFrame:
    """The probe shared by knn_ivf and knn_ivf_indexed: queries explode
    to their ``nprobe`` nearest lists and join the list-assigned corpus
    ``c`` (neighbor_id, __cv, __list) on ``__list``; the exact
    fixed-point cosine re-ranks the top ``k``."""
    c = c.withColumn("__cn", norm_units(F.col("__cv")))
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn(
        "__list", F.explode(_nearest_pandas(centroids, nprobe)(F.col("__qv")))
    ).withColumn("__qn", norm_units(F.col("__qv")))
    return _top_k(q.join(c, "__list").select(
        "query_id", "neighbor_id",
        cosine_from_units(
            dot_units(F.col("__qv"), F.col("__cv")),
            F.col("__qn"), F.col("__cn"),
        ).alias("cos"),
    ), k)


def _lsh_cosine_pairs(a: DataFrame, b: DataFrame, id_pred, ids, *,
                      dim: int, planes: int, tables: int,
                      seed: int) -> DataFrame:
    """(ids[0], ids[1], cos) for every pair of rows of the
    (__id, __v, __nu) payload frames ``a`` and ``b`` that share a
    hyperplane-LSH (tbl, key) bucket and pass ``id_pred``, scored with
    the exact fixed-point cosine — the shared stage of knn_lsh (queries
    vs corpus, every pair) and embedding_dup_pairs_lsh (one frame both
    sides, ``<``).

    Candidate retrieval and the multi-table dropDuplicates are SLIM:
    the vector column is pruned before the (tbl, key) join, so its
    exchange and the pair-level dedup move only 16-byte id rows (the r7
    minhash lesson: deduping pairs that still carry their payload
    shuffles O(candidates × vector) bytes — measured 550 MB at sf0.1,
    ~37× the slim plan). Vectors re-attach AFTER the dedup via one hash
    join per side (ReusedExchange / runtime broadcast when both sides
    are one frame), so vector bytes cross the wire O(n) per side, not
    O(candidate pairs)."""
    x, y = ids
    buckets = _bucket_structs("__v", dim=dim, planes=planes, tables=tables,
                              seed=seed)

    def slim(df):
        return (df.select("__id", F.explode(buckets).alias("bk"))
                .select("__id", "bk.tbl", "bk.key"))

    def vecs(df, out, tag):
        return df.select(F.col("__id").alias(out),
                         F.col("__v").alias(f"__v{tag}"),
                         F.col("__nu").alias(f"__n{tag}"))

    return (
        slim(a).alias("a")
        .join(slim(b).alias("b"),
              (F.col("a.tbl") == F.col("b.tbl"))
              & (F.col("a.key") == F.col("b.key"))
              & id_pred(F.col("a.__id"), F.col("b.__id")))
        .select(F.col("a.__id").alias(x), F.col("b.__id").alias(y))
        .dropDuplicates([x, y])
        .join(vecs(a, x, "a"), x).join(vecs(b, y, "b"), y)
        .select(x, y, cosine_from_units(
            dot_units(F.col("__va"), F.col("__vb")),
            F.col("__na"), F.col("__nb")).alias("cos"))
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 10,
    dim: int,
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
    query_id_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH candidate retrieval +
    exact cosine re-rank. Each side computes ``tables`` bucket keys; the
    join is on (table, key) — a plain shuffle join Catalyst/AQE can
    broadcast or skew-split. Candidate retrieval is SLIM (see
    _lsh_cosine_pairs). Bucket keys are the Arrow keys (bit-equal
    to the expression fold, see _bucket_keys_pandas). Returns (query_id,
    neighbor_id, cos, rank)."""
    # every bucket-sharing pair is a candidate: no id predicate, so a
    # query that is also a corpus row ranks itself
    cand = _lsh_cosine_pairs(
        _vec_payload(queries, query_id_col or id_col, vec_col),
        _vec_payload(corpus, id_col, vec_col),
        lambda a, b: F.lit(True), ("query_id", "neighbor_id"),
        dim=dim, planes=planes, tables=tables, seed=seed)
    return _top_k(cand, k)


def embedding_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    dim: int,
    planes: int = 4,
    tables: int = 8,
    seed: int = 42,
    impl: str = "expr",
) -> DataFrame:
    """Corpus-scale embedding near-duplicate pairs: hyperplane-LSH
    candidate buckets + exact cosine verification — the scale path for
    ``dedup.embedding_dup_pairs`` (which is the O(n²) all-pairs
    verifier). Returns (id_a, id_b, cos), cos >= threshold.

    ``impl="expr"`` (default) streams slim candidate pairs and scores
    them with the JVM fixed-point fold. ``impl="block"`` verifies
    inside each bucket with the numpy block scorer (bit-identical to
    the fold — pinned by test_embedding_pandas_impl_bit_equal), which
    ships each vector once per table instead of once per candidate
    pair; a bucket wider than 500,000 rows raises (see
    _lsh_pairs_block), where ``expr`` streams it instead.

    Recall: a pair at angle θ = acos(threshold) collides in one table
    with probability (1 - θ/π)^planes; the overall miss probability is
    (1 - (1 - θ/π)^planes)^tables. planes=1, tables=16 is effectively
    exact at any useful threshold (miss ~1e-7 even at θ≈66°); the
    4-plane/8-table default trades a few-per-mille miss rate for ~16×
    smaller candidate buckets.

    Scale: ``expr`` candidate generation is SLIM and vectors re-attach
    after the dedup (see _lsh_cosine_pairs). Hot buckets ARE
    near-duplicate mass (the pairs we want), so bucket skew is signal;
    AQE splits oversized partitions.
    """
    from rayforce_spark.datapipe.dedup import fanout

    if impl not in ("expr", "block"):
        raise ValueError(f"unknown impl: {impl!r} (expected 'expr' or "
                         "'block')")
    # a null or wrong-length vector has a null cosine and can never
    # reach the threshold; dropped before bucketing
    sel = _vec_payload(fanout(df.filter(F.size(F.col(vec_col)) == dim)),
                       id_col, vec_col)
    if impl == "block":
        # r9: verify INSIDE each bucket with the shared numpy block
        # scorer (bit-equal fixed-point math, score_units_block) — each
        # vector ships through Arrow once per table (n × tables rows
        # total) instead of once per CANDIDATE PAIR (the per-pair Arrow
        # scorer it replaced moved ~2 × 64 doubles × |candidates| —
        # ~700 MB at sf0.1 for a 920-pair result), and the cross-table
        # dropDuplicates runs on the few FINAL pairs, not millions of
        # candidate ids. Guarded: a bucket wider than max_bucket_rows
        # raises with the planes lever named (hot buckets are near-dup
        # mass, but k² inside one task has a ceiling) — same guard
        # class as pack_greedy.
        buckets = _bucket_structs("__v", dim=dim, planes=planes,
                                  tables=tables, seed=seed)
        return _lsh_pairs_block(sel, buckets, threshold,
                                max_bucket_rows=500_000)
    return (_lsh_cosine_pairs(sel, sel, operator.lt, ("id_a", "id_b"),
                              dim=dim, planes=planes, tables=tables,
                              seed=seed)
            .filter(F.col("cos") >= threshold))


def _lsh_pairs_block(sel: DataFrame, buckets, threshold: float,
                     *, max_bucket_rows: int) -> DataFrame:
    """Per-bucket numpy verification for embedding_dup_pairs_lsh
    impl="block": explode (tbl, key) WITH the vector, group by bucket,
    score the bucket's k² pairs in one Arrow batch via
    dedup.score_units_block, emit only passing pairs, dedup across
    tables at the end (a pair found in several tables is emitted by
    each — final-pair dedup is tiny)."""
    import pandas as pd

    from rayforce_spark.datapipe.dedup import _pairs_schema, _score_frames

    b = (sel.select("__id", "__v", F.explode(buckets).alias("bk"))
         .select("__id", "__v", "bk.tbl", "bk.key"))

    def _score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_bucket_rows:
            raise ValueError(
                f"embedding_dup_pairs_lsh[block]: bucket holds "
                f"{len(pdf)} vectors > max_bucket_rows={max_bucket_rows}; "
                "raise planes= (halves expected bucket size per plane) or "
                "use impl='expr' (streams pairs instead of "
                "materializing the bucket)")
        return _score_frames(pdf, pdf, threshold)

    return (b.groupBy("tbl", "key")
            .applyInPandas(_score, _pairs_schema(sel.schema["__id"].dataType))
            .dropDuplicates(["id_a", "id_b"]))


def set_ivf(
    corpus: DataFrame,
    path: str,
    vec_col: str,
    id_col: str,
    *,
    nlist: int = 16,
    iters: int = 5,
    centroids: list[list[float]] | None = None,
    corpus_rows: int | None = None,
) -> list[list[float]]:
    """Persist an IVF index: train (or reuse) centroids, write them as
    a tiny parquet sidecar under ``path/_centroids``, and write the
    corpus PARTITIONED BY its nearest-list assignment under
    ``path/data`` — the production train-once/probe-many layout. A
    probe then reads only its ``nprobe`` list directories (parquet
    partition pruning), not the corpus; re-probing never re-trains and
    never re-shuffles. Returns the trained centroids."""
    if centroids is None:
        centroids = ivf_train(corpus, vec_col, id_col, nlist=nlist,
                              iters=iters, corpus_rows=corpus_rows)
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")
    if centroids:
        (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("__cv"))
         .withColumn("__list",
                     _nearest_pandas(centroids, 1)(F.col("__cv"))[0])
         .write.partitionBy("__list").mode("overwrite")
         .parquet(f"{path}/data"))
    return centroids


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/_centroids").collect()
    out: list[list[float]] = [[] for _ in rows]
    for r in rows:
        out[r["list"]] = [float(x) for x in r["centroid"]]
    return out


def knn_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    vec_col: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "vec_id",
    id_type: str = "long",
) -> DataFrame:
    """Probe a persisted IVF index (see :func:`set_ivf`): queries
    explode to their ``nprobe`` nearest lists and join the
    list-partitioned corpus on the PARTITION column, so the scan reads
    only probed list directories (few queries -> dynamic partition
    pruning; broad probes read what they touch). Exact fixed-point
    cosine re-ranks, same contract as knn_ivf:
    (query_id, neighbor_id, cos, rank). ``id_type`` is only used for
    the empty-index early return (an empty corpus writes no data dir
    to read the corpus id type from) — pass the corpus id column's
    Spark type name if it isn't long, so empty and populated probes
    union cleanly."""
    centroids = load_ivf_centroids(spark, path)
    if not centroids:
        return _no_neighbors(queries, query_id_col, id_type)
    return _ivf_top_k(spark.read.parquet(f"{path}/data"), queries,
                      query_id_col, vec_col, centroids, nprobe, k)
