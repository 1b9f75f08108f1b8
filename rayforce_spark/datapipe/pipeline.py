"""Corpus curation: the end-to-end composition a training-data pipeline
actually runs, as ONE declarative plan.

The stages are the datapipe operators this package already gates
individually — this module only composes them, in the order a 100 TB
curation run wants them (cheapest reduction first, so every later stage
scans fewer rows):

1. repetition gate (Gopher-style top/dup n-gram fractions): pure
   scan-stage filter, zero shuffle — runs FIRST because it costs one
   expression and every later stage scans fewer rows
2. segment-level dedup (C4 span-dedup rule): repeated lines/spans keep
   their global first occurrence, documents reassembled — before doc
   dedup so boilerplate doesn't mask otherwise-identical docs
3. exact dedup on the normalized fingerprint (hash groupBy, one shuffle)
4. near-dup removal: MinHash+LSH candidate pairs -> connected
   components -> keep the canonical (min-id) member per cluster
5. quality floor: per-group cume_dist quantile cutoff (integer-exact)
6. CCNet-style LM floor: corpus-trained bigram-LM score, drop each
   group's worst tail (perplexity outliers)
7. benchmark decontamination vs a held-out eval set (eval grams
   broadcast; the corpus never shuffles) — after the dedup stages so
   only survivors shingle, before sampling so no fold leaks eval text
8. deterministic subsampling + train/val/test folds (scan-stage bigint
   hashes; fold salt independent of the sample salt)
9. per-key contribution cap (one keyed shuffle)

Every stage is deterministic (hash-based, tie-break-stable), so the
whole pipeline is reproducible run-to-run and engine-to-engine — rerun
it on the same inputs and the same corpus comes out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayforce_spark.datapipe.dedup import (
    dedup_exact,
    dedup_keep_canonical,
    minhash_lsh_pairs,
)
from rayforce_spark.datapipe.sampling import (
    assign_folds,
    cap_per_key,
    sample_hash,
)
from rayforce_spark.datapipe.decontam import decontaminate
from rayforce_spark.datapipe.text import (
    doc_fingerprint,
    filter_by_quality_quantile,
    repetition_ok,
)


def curate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    repetition_gate: bool = False,
    segment_dedup: bool | int = False,
    exact_dedup: bool = True,
    neardup_threshold: float | None = 0.8,
    neardup_opts: dict | None = None,
    min_quality_quantile: float | None = None,
    quality_by: str | None = None,
    quality_global_ok: bool = False,
    lm_floor_quantile: float | None = None,
    decontam_against: DataFrame | None = None,
    decontam_n: int = 8,
    sample_fraction: float | None = None,
    sample_salt: int = 0,
    fold_weights: tuple = (0.8, 0.1, 0.1),
    fold_salt: int = 1,
    fold_col: str | None = "fold",
    cap_key: str | None = None,
    cap_n: int = 0,
) -> DataFrame:
    """Curated corpus: ``docs`` minus exact dups, near-dups, and
    below-floor quality, deterministically subsampled, fold-labeled, and
    per-key capped. Stages are skipped when their knob is None/False, so
    the same entry point serves a quick dedup-only pass and the full
    pipeline.

    ``neardup_opts`` passes through to :func:`minhash_lsh_pairs`
    (num_perm/bands/shingle_k/guard/dense_threshold) — production
    tunings (bands < num_perm) trade candidate volume for recall there.
    """
    out = docs

    if repetition_gate:
        out = out.filter(repetition_ok(F.col(text_col)))

    if segment_dedup:
        # True -> newline-line segments; an int -> aligned k-word chunks
        from rayforce_spark.datapipe.dedup import dedup_segments

        out = dedup_segments(
            out, text_col, id_col,
            words_per_segment=(segment_dedup
                               if isinstance(segment_dedup, int)
                               and not isinstance(segment_dedup, bool)
                               else None))

    if exact_dedup:
        out = out.withColumn("__fp", doc_fingerprint(F.col(text_col)))
        out = dedup_exact(out, ["__fp"], id_col=id_col).drop("__fp")

    if neardup_threshold is not None:
        pairs = minhash_lsh_pairs(
            out, text_col, id_col,
            threshold=neardup_threshold,
            **(neardup_opts or {}),
        )
        out = dedup_keep_canonical(out, pairs, id_col=id_col)

    if min_quality_quantile is not None:
        out = filter_by_quality_quantile(
            out, text_col, q=min_quality_quantile, by=quality_by,
            global_ok=quality_global_ok)

    if lm_floor_quantile is not None:
        # CCNet leg: per-group corpus-bigram-LM perplexity floor
        from rayforce_spark.datapipe.text import filter_by_lm_quantile

        out = filter_by_lm_quantile(
            out, text_col, id_col, q=lm_floor_quantile, by=quality_by,
            global_ok=quality_global_ok)

    if decontam_against is not None:
        out = decontaminate(out, decontam_against, text_col, id_col,
                            n=decontam_n)

    if sample_fraction is not None:
        out = sample_hash(out, id_col, sample_fraction, salt=sample_salt)

    if fold_col is not None:
        if fold_salt == sample_salt and sample_fraction is not None:
            raise ValueError(
                "fold_salt must differ from sample_salt: sampling already "
                "conditioned on this hash, so every surviving row would "
                "land in one fold arm")
        out = out.withColumn(
            fold_col, assign_folds(id_col, fold_weights, salt=fold_salt))

    if cap_key is not None:
        out = cap_per_key(out, cap_key, cap_n, id_col)

    return out
