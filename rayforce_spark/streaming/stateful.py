"""Custom stateful streaming operators via applyInPandasWithState.

The reference's stateful idiom is a session table mutated by timer
callbacks and incoming IPC messages (examples/sesslog.rfl, timers
ref core/chrono.c:361). The Spark-native form is keyed state in a
streaming query: per-key state survives across micro-batches, with
timeout-driven finalization replacing the reference's timer sweeps.
"""

from __future__ import annotations

from bisect import bisect_right

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def sessionize(
    stream: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts_sec",
    value_col: str = "value",
    gap_sec: int = 1800,
) -> DataFrame:
    """Gap-based sessionization with explicit keyed state: emits one row
    per closed session (key, session_start, session_end, n_events,
    sum_value). Sessions close when ``gap_sec`` passes without an event
    for the key (processing-time timeout finalizes idle keys).

    State per key is four scalars — O(keys) memory, checkpointed by the
    engine; this is the applyInPandasWithState shape any custom stateful
    operator (counters, CDC folding, online aggregates) follows.
    """
    out_schema = (
        f"{key_col} long, session_start double, session_end double, "
        "n_events long, sum_value double"
    )
    state_schema = "start double, last double, n long, total double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (k,) = key
        closed = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                closed.append((k, start, last, n, total))
                state.remove()
        else:
            ts_all, v_all = [], []
            for pdf in pdfs:
                ts_all.extend(pdf[ts_col].tolist())
                v_all.extend(pdf[value_col].tolist())
            order = sorted(range(len(ts_all)), key=lambda i: ts_all[i])
            if state.exists:
                start, last, n, total = state.get
            else:
                start = last = None
                n, total = 0, 0.0
            for i in order:
                t, v = float(ts_all[i]), float(v_all[i])
                if last is not None and t - last > gap_sec:
                    closed.append((k, start, last, n, total))
                    start, n, total = t, 0, 0.0
                if start is None:
                    start = t
                last = t
                n += 1
                total += v
            state.update((start, last, n, total))
            state.setTimeoutDuration(gap_sec * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[key_col, "session_start", "session_end",
                         "n_events", "sum_value"],
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_asof_join(
    left: DataFrame,
    right: DataFrame,
    on: "str | list[str]",
    time_col: str,
    *,
    right_cols: "list[str] | None" = None,
    watermark: str = "10 minutes",
    suffix: str = "_r",
) -> DataFrame:
    """Streaming as-of join — the streaming twin of ``joins.asof_join``
    (ref core/join.c:300: greatest right time <= left time, exact-matching
    the leading keys, duplicate right timestamps last-wins).

    Event-time-correct under the watermark contract: left rows are
    buffered in keyed state and emitted once the watermark passes their
    event time, so any right row with a smaller-or-equal timestamp that
    arrives out of order (but inside the watermark) is still matched.
    Duplicate right timestamps resolve by arrival order (the streaming
    reading of the reference's table-order last-wins).

    State per key is watermark-bounded: pending left rows (those newer
    than the watermark) plus right rows newer than the emission horizon
    and ONE prevailing right row at the horizon — exactly the
    last-known-right-value a late left row can still need. Everything
    older is pruned each batch.

    Mechanics: both sides are tagged and unioned (the batch asof's union
    trick, joins.py:80), payload columns ride as JSON through one
    applyInPandasWithState (Arrow-batched), and are decoded back to typed
    columns with from_json — the Python hot path touches only longs and
    strings. Time columns may be Timestamp(NTZ) or i64-ns longs.

    Returns left rows (append mode) with the matched right value columns
    (null where no right row <= t had arrived inside the watermark).
    """
    from pyspark.sql.types import LongType

    from rayforce_spark.functions.kdb import ns_to_timestamp

    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != time_col]
    if isinstance(left.schema[time_col].dataType, LongType):
        left = left.withColumn(time_col, ns_to_timestamp(time_col))
    if isinstance(right.schema[time_col].dataType, LongType):
        right = right.withColumn(time_col, ns_to_timestamp(time_col))

    lpay_cols = [c for c in left.columns if c not in keys and c != time_col]
    lpay_schema = ", ".join(f"`{c}` {left.schema[c].dataType.simpleString()}" for c in lpay_cols)
    rpay_schema = ", ".join(f"`{c}` {right.schema[c].dataType.simpleString()}" for c in right_cols)

    l2 = left.select(
        *keys,
        F.col(time_col).alias("__rf_t"),
        F.lit(1).alias("__rf_side"),
        (F.to_json(F.struct(*lpay_cols)) if lpay_cols else F.lit("{}")).alias("__rf_lpay"),
        F.lit(None).cast("string").alias("__rf_rpay"),
    )
    r2 = right.select(
        *keys,
        F.col(time_col).alias("__rf_t"),
        F.lit(0).alias("__rf_side"),
        F.lit(None).cast("string").alias("__rf_lpay"),
        (F.to_json(F.struct(*right_cols)) if right_cols else F.lit("{}")).alias("__rf_rpay"),
    )
    u = l2.unionByName(r2).withWatermark("__rf_t", watermark)

    key_ddl = ", ".join(
        f"`{k}` {left.schema[k].dataType.simpleString()}" for k in keys
    )
    out_schema = f"{key_ddl}, `__rf_t` timestamp, `__rf_lpay` string, `__rf_rpay` string"
    state_schema = (
        "lt array<long>, lp array<string>, "
        "rt array<long>, rp array<string>, rseq long"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            lt, lp, rt, rp, rseq = state.get
            lt, lp, rt, rp = list(lt), list(lp), list(rt), list(rp)
        else:
            lt, lp, rt, rp, rseq = [], [], [], [], 0

        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_us = (pdf["__rf_t"].astype("int64") // 1000).tolist()
                sides = pdf["__rf_side"].tolist()
                lpay = pdf["__rf_lpay"].tolist()
                rpay = pdf["__rf_rpay"].tolist()
                for t, s, a, b in zip(ts_us, sides, lpay, rpay):
                    if s == 1:
                        lt.append(t)
                        lp.append(a)
                    else:
                        # arrival order breaks duplicate-timestamp ties
                        # (last arrival wins, like the reference's table
                        # order); keep (t, seq)-sorted via insertion
                        i = bisect_right(rt, t)
                        rt.insert(i, t)
                        rp.insert(i, b)
                        rseq += 1

        wm_us = state.getCurrentWatermarkMs() * 1000

        emit_rows = []
        keep_lt, keep_lp = [], []
        for t, payload in zip(lt, lp):
            if t <= wm_us:
                j = bisect_right(rt, t) - 1
                emit_rows.append(
                    (*key, pd.Timestamp(t, unit="us"), payload,
                     rp[j] if j >= 0 else None)
                )
            else:
                keep_lt.append(t)
                keep_lp.append(payload)

        # prune rights: future left rows are newer than the horizon, so
        # only the prevailing right row at the horizon plus newer rows
        # can still match
        horizon = min([wm_us] + keep_lt)
        cut = max(bisect_right(rt, horizon) - 1, 0)
        rt, rp = rt[cut:], rp[cut:]

        if keep_lt or rt:
            state.update((keep_lt, keep_lp, rt, rp, rseq))
            if keep_lt:
                # flush pending lefts when the watermark passes them even
                # if no further rows arrive for this key
                state.setTimeoutTimestamp(max(min(keep_lt) // 1000 + 1,
                                              state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()

        if emit_rows:
            yield pd.DataFrame(
                emit_rows,
                columns=[*keys, "__rf_t", "__rf_lpay", "__rf_rpay"],
            )

    staged = u.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )

    out_names = {c: (c + suffix if c in left.columns else c) for c in right_cols}
    cols = [*keys, F.col("__rf_t").alias(time_col)]
    if lpay_cols:
        lstruct = F.from_json("__rf_lpay", lpay_schema)
        cols += [lstruct[c].alias(c) for c in lpay_cols]
    if right_cols:
        rstruct = F.from_json("__rf_rpay", rpay_schema)
        cols += [rstruct[c].alias(out_names[c]) for c in right_cols]
    return staged.select(*cols)


def stream_neardup(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_per_bucket: int = 64,
    state_ttl_sec: int = 3600,
) -> DataFrame:
    """Streaming NEAR-duplicate candidates — the streaming twin of
    datapipe.dedup.minhash_lsh_pairs for ingestion pipelines: catch a
    document that near-duplicates one seen EARLIER in the stream, at
    ingest time, without a batch all-corpus pass.

    Plan: the minhash signature is the SAME pure-JVM expression as the
    batch operator (scan stage, no Python). The band buckets are NOT:
    each band slice is keyed by Spark's 32-bit ``F.hash`` with the band
    index mixed in, where the batch ``_band_buckets`` (and so every
    persisted minhash index) uses xxhash64 — a streamed bucket never
    equals a batch or index bucket, and the stream's state is keyed by
    the 32-bit value. Then one
    applyInPandasWithState keyed by band bucket holds the recent
    signatures seen per bucket. Each new document is scored against its
    bucket's buffer by signature agreement — the standard MinHash
    estimate E[matching coords / num_perm] = Jaccard — and (id_a, id_b,
    est_jaccard) rows are emitted for est >= threshold (id_a < id_b).

    Scale/state contract:
    - state per bucket is CAPPED at ``max_per_bucket`` signatures
      (oldest evicted) and aged out after ``state_ttl_sec`` of bucket
      inactivity — O(buckets x cap x num_perm) bounded memory, the only
      shape that survives an unbounded stream.
    - a pair colliding in several bands emits once per band:
      deduplicate downstream (dropDuplicates on (id_a, id_b) in the
      sink batch, or dropDuplicatesWithinWatermark) — emitting from
      every band and deduping later is cheaper than cross-bucket
      coordination in state.
    - est_jaccard is the ESTIMATE: this operator is the streaming
      candidate/filter stage; audit candidates with the exact batch
      jaccard (datapipe.dedup.jaccard_dup_pairs) offline. Docs shorter
      than shingle_k words produce null signature coordinates and never
      match (null != null).
    """
    import pandas as pd

    from rayforce_spark.datapipe.dedup import (
        minhash_signature_from_hashes,
        with_shingle_hashes,
    )

    rows_per_band = num_perm // bands
    sig = with_shingle_hashes(
        stream.select(F.col(id_col).alias("__id"),
                      F.col(text_col).alias("__text")),
        "__text", shingle_k, "__bh",
    ).select(
        "__id",
        minhash_signature_from_hashes(F.col("__bh"),
                                      num_perm=num_perm).alias("__sig"),
    )
    banded = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(*[
                F.hash(F.slice("__sig", b * rows_per_band + 1,
                               rows_per_band), F.lit(b))
                for b in range(bands)
            ])
        ).alias("__bucket"),
    )

    out_schema = "id_a long, id_b long, est_jaccard double"
    # signatures ride flattened row-major (state structs keep to flat
    # arrays — nested array<array> state is not worth the serde risk)
    state_schema = "ids array<long>, sigs array<long>"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            if state.exists:
                state.remove()
            return
        ids, sigs = ([], []) if not state.exists else (
            list(state.get[0]), list(state.get[1]))
        pairs = []
        for pdf in pdfs:
            for doc_id, sig_arr in zip(pdf["__id"], pdf["__sig"]):
                s = [None if v is None or v != v else int(v)
                     for v in sig_arr]
                for j, other in enumerate(ids):
                    if other == doc_id:
                        continue
                    o = sigs[j * num_perm:(j + 1) * num_perm]
                    eq = sum(1 for a, b in zip(s, o)
                             if a is not None and a == b)
                    est = eq / num_perm
                    if est >= threshold:
                        pairs.append((min(doc_id, other),
                                      max(doc_id, other), est))
                ids.append(int(doc_id))
                sigs.extend(-(2 ** 63) if v is None else v for v in s)
        if len(ids) > max_per_bucket:  # evict oldest
            drop = len(ids) - max_per_bucket
            ids = ids[drop:]
            sigs = sigs[drop * num_perm:]
        state.update((ids, sigs))
        state.setTimeoutDuration(state_ttl_sec * 1000)
        if pairs:
            yield pd.DataFrame(pairs,
                               columns=["id_a", "id_b", "est_jaccard"])

    return banded.groupBy("__bucket").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_embedding_neardup(
    stream: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.9,
    planes: int = 2,
    tables: int = 8,
    seed: int = 42,
    max_per_bucket: int = 256,
    state_ttl_sec: int = 3600,
) -> DataFrame:
    """Streaming embedding near-dup — the streaming twin of
    datapipe.similarity.embedding_dup_pairs_lsh: flag a vector that
    near-duplicates one seen earlier in the stream, at ingest.

    Plan: the hyperplane sign-bit bucket keys are the SAME pure-JVM
    expressions as the batch operator (one (table, key) per row per
    table, scan stage), then one applyInPandasWithState keyed by
    (table, bucket) buffers recent vectors per bucket and emits
    (id_a, id_b, cos) for EXACT cosine >= threshold (id_a < id_b) —
    unlike the text minhash stream, the verify here is exact, since the
    vector itself rides in state.

    The batch recall math carries over unchanged (a pair collides in a
    table with p = (1 - theta/pi)^planes; tables multiply). State is
    bounded: ``max_per_bucket`` vectors per bucket (oldest evicted),
    TTL'd on bucket inactivity — O(tables x buckets x cap x dim)
    memory. A pair colliding in several tables emits once per table;
    dedupe downstream on (id_a, id_b).
    """
    import math

    import pandas as pd

    from rayforce_spark.datapipe.similarity import _bucket_key, _hyperplanes

    # resolve the user's columns FIRST (F.col handles dotted/nested
    # references); the bucket-key SQL-text builder (_bucket_key) then
    # only ever sees the engine-internal top-level name "__v" — a
    # dotted vec_col reaching it would backtick-quote as one literal
    # identifier and fail analysis (r9 advice item 1)
    src = stream.select(F.col(id_col).alias("__id"),
                        F.col(vec_col).alias("__v"))
    per_table = []
    for t in range(tables):
        hp = _hyperplanes(dim, planes, t, seed)
        per_table.append(F.struct(
            F.lit(t).alias("t"),
            _bucket_key("__v", hp).alias("k"),
        ))
    bucketed = src.select(
        "__id", "__v",
        F.explode(F.array(*per_table)).alias("__tk"),
    ).select(
        "__id", "__v",
        F.concat_ws(":", F.col("__tk.t"), F.col("__tk.k")).alias("__bucket"),
    )

    out_schema = "id_a long, id_b long, cos double"
    state_schema = "ids array<long>, vecs array<double>"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            if state.exists:
                state.remove()
            return
        ids, vecs = ([], []) if not state.exists else (
            list(state.get[0]), list(state.get[1]))
        pairs = []
        for pdf in pdfs:
            for doc_id, v in zip(pdf["__id"], pdf["__v"]):
                v = [float(x) for x in v]
                if len(v) != dim:
                    # a malformed vector would misalign the flattened
                    # per-bucket state and silently corrupt every later
                    # cosine against this bucket — skip it
                    continue
                nv = math.sqrt(sum(x * x for x in v))
                for j, other in enumerate(ids):
                    if other == doc_id:
                        continue
                    o = vecs[j * dim:(j + 1) * dim]
                    no = math.sqrt(sum(x * x for x in o))
                    if nv == 0.0 or no == 0.0:
                        continue
                    cos = sum(a * b for a, b in zip(v, o)) / (nv * no)
                    if cos >= threshold:
                        pairs.append((min(doc_id, other),
                                      max(doc_id, other), cos))
                ids.append(int(doc_id))
                vecs.extend(v)
        if len(ids) > max_per_bucket:
            drop = len(ids) - max_per_bucket
            ids, vecs = ids[drop:], vecs[drop * dim:]
        state.update((ids, vecs))
        state.setTimeoutDuration(state_ttl_sec * 1000)
        if pairs:
            yield pd.DataFrame(pairs, columns=["id_a", "id_b", "cos"])

    return bucketed.groupBy("__bucket").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_pack(
    stream: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int,
    shards: int = 32,
    salt: int = 0,
) -> DataFrame:
    """Streaming doc-boundary first-fit packing (the online twin of
    datapipe.packing.pack_greedy): documents arrive on a stream, shard
    by the SAME engine-portable Knuth hash, and a per-shard
    ``(pack, running)`` state assigns each document its training pack
    ON ARRIVAL — the ingest-time analog of the batch packer, so a
    corpus packed as it lands matches an offline re-pack exactly
    (STREAMCHECK pins the parity). Emits
    ``(id, shard, n_tok, pack)`` in append mode.

    Contract (same as the batch packer's id ordering): rows must
    arrive per shard in ``id_col`` order across micro-batches — the
    journal/ticker replay idiom; rows inside one micro-batch are
    sorted here. Null text packs as 0 tokens (batch parity, r9).
    State per shard is two longs — O(shards) memory; packs never
    close, so no timeout (a pack stays open for the next document
    until it overflows)."""
    from rayforce_spark.datapipe.sampling import hash_bucket
    from rayforce_spark.datapipe.text import token_count

    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (f"{id_col} {id_type}, shard long, n_tok long, "
                  "pack long")
    state_schema = "pack long, running long"
    base = (stream
            .withColumn("shard", hash_bucket(id_col, shards, salt))
            .withColumn("n_tok", F.coalesce(token_count(F.col(text_col)),
                                            F.lit(0)))
            .select(id_col, "shard", "n_tok"))

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:  # NoTimeout — defensive only
            return
        (shard,) = key
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf[id_col].tolist(), pdf["n_tok"].tolist()))
        if not rows:
            return
        rows.sort(key=lambda r: r[0])
        pack, running = state.get if state.exists else (0, 0)
        out = []
        for rid, n in rows:
            n = int(n)
            if running > 0 and running + n > budget:
                pack += 1
                running = 0
            out.append((rid, shard, n, pack))
            running += n
        state.update((pack, running))
        yield pd.DataFrame(out, columns=[id_col, "shard", "n_tok", "pack"])

    return base.groupBy("shard").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
