"""End-to-end corpus curation recipe — the standard LLM pre-training
data pipeline (PII redaction → dedup at three granularities → quality
filters → decontamination → mixture rebalancing → split) composed from
the individually oracle-checked operators into ONE lazy DataFrame plan.

Stage order follows the usual cost gradient: cheap map-side transforms
first (repetition, quality, redaction), the exact-dedup aggregate next,
then the heavier shuffling stages (paragraph dedup, near-dup chain),
the benchmark broadcast probe after that, and the mixture/split hashing
last over the surviving minority. Catalyst fuses the map-side stages;
nothing materializes between steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datas_spark.functions.text import quality_score
from datas_spark.operators.corpus import (
    hash_split,
    ngram_contamination,
    pii_redact,
    repetition_stats,
    temperature_sample,
)
from datas_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    near_dedup_keep_best,
    ngram_jaccard_pairs,
    paragraph_dedup,
    semdedup,
    simhash_near_dup_pairs,
)

__all__ = ["curate_corpus", "curate_audit"]


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str | None = None,
    min_quality: float = 0.0,
    max_dup_token_frac: float = 0.95,
    max_top_bigram_frac: float = 0.95,
    redact_pii: bool = False,
    paragraph_dedup_delimiter: str | None = None,
    near_dup_threshold: float | None = None,
    near_dup_method: str = "jaccard",
    near_dup_ngram: int = 3,
    near_dup_max_hamming: int = 3,
    near_dup_pairs: DataFrame | None = None,
    near_dup_components: DataFrame | None = None,
    semantic_threshold: float | None = None,
    semantic_embeddings: DataFrame | None = None,
    semantic_id_col: str = "vec_id",
    semantic_vec_col: str = "embedding",
    semantic_k: int | str = "auto",
    semantic_rounds: int = 2,
    semantic_planes: int = 4,
    semantic_max_bucket_side: int | None = 64,
    semantic_dim: int | None = None,
    contamination_min_shared: int = 5,
    temperature: float | None = None,
    split_weights: dict[str, float] | None = None,
    materialize_stages: bool = True,
    stage_ids: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Run the full curation recipe; returns the surviving rows of
    ``docs`` (text possibly rewritten by redaction / paragraph dedup,
    plus a ``component`` column when near-dup runs and a ``split``
    column when ``split_weights`` is given).

    Steps (each optional knob defaults to pass-through):
    1. repetition filter  — drop docs above the dup-token / top-bigram
       fractions (map-side, no shuffle); skipped entirely when both
       thresholds are >= 1
    2. quality filter     — drop docs under ``min_quality`` (map-side)
    3. PII redaction      — rewrite ``text_col`` with typed placeholders
       (map-only) if ``redact_pii``; BEFORE any dedup so documents that
       differ only in a phone number dedup together
    4. exact dedup        — normalized-text fingerprint, first id wins
    5. paragraph dedup    — corpus-wide first-occurrence segment
       election on ``paragraph_dedup_delimiter``, text rebuilt from
       surviving segments, if a delimiter is given
    6. near-dup chain     — candidate pairs → connected components
       (one bounded collect and a driver union-find up to
       `dedup.CC_DRIVER_MAX_EDGES` edges, distributed rounds above) →
       keep the LONGEST doc per component (ties to smallest id), if a
       threshold is given. ``near_dup_method`` picks the pair backend:
       ``"jaccard"`` (exact n-gram Jaccard ≥ threshold — the precise,
       priciest option), ``"minhash"`` (banded LSH, estimated Jaccard ≥
       threshold — the cheap scale path), or ``"simhash"`` (60-bit
       banded signatures, hamming ≤ ``near_dup_max_hamming``;
       ``near_dup_threshold`` just gates the stage on).

       ``near_dup_pairs`` / ``near_dup_components`` inject the
       MATERIALIZE-ONCE artifacts (`operators.artifacts.pairs_artifact`
       / `components_artifact`) instead of deriving pairs inline — the
       100 TB shape, where ingest computed the pair graph once and no
       downstream recipe re-runs the inverted index or the CC.
       Injection semantics are corpus-level: the artifact covers the
       WHOLE corpus, so connectivity through docs that earlier stages
       dropped is preserved (exact duplicates mirror each other's
       edges, so survivor components are identical), and the election
       runs over the current survivors only. Injection is rejected
       when an upstream stage MUTATES text (``redact_pii`` /
       ``paragraph_dedup_delimiter``) — ingest-time pairs don't
       describe rewritten documents.
    7. semantic dedup     — SemDeDup (`dedup.semdedup`) over
       ``semantic_embeddings`` (``semantic_id_col`` rows matching
       ``id_col``), if ``semantic_threshold`` is given: auto-k Lloyd
       clusters (``semantic_k="auto"`` grows k with the surviving
       corpus inside the plan), per-(cluster, LSH-bucket) capped pairs
       at cosine ≥ threshold, CC groups, keep the least-centroid-
       typical member. Runs AFTER the lexical dedups (cheap stages
       shrink the embedding join) and only over docs that HAVE an
       embedding — docs without one pass through (they can't be
       semantically judged); at 100 TB the embedding side is the
       feature-store artifact, exactly like ``near_dup_pairs``.
    8. decontamination    — drop docs sharing ≥ ``contamination_min_shared``
       n-grams with ``benchmark`` (broadcast probe), if given
    9. temperature sample — rebalance ``domain_col`` mixture, if given
    10. hash split        — deterministic train/test labels, if given

    ``materialize_stages=True`` (default) lazily checkpoints the
    survivor frame after each stage whose DOWNSTREAM consumer
    references it more than once (dedup feeds both the contamination
    shingles and the semi-join; temperature reads its input for counts
    AND rows). Without a cut, every stage's stats branch re-expands the
    whole upstream tree, so a k-stage recipe re-scans and re-tokenizes
    the corpus O(2^k) times — measured 20x slower at sf0.1. A 100 TB
    run materializes between major stages for exactly this reason
    (checkpoint locally, or swap for an intermediate parquet write
    between jobs); set False to keep one pure lazy plan for plan-level
    inspection.

    ``stage_ids`` (optional, for `curate_audit`): a dict the recipe
    fills with each DROPPING stage's survivor-id frame, keyed
    "repetition" / "quality" / "exact_dedup" / "near_dup" /
    "decontamination" — the final frame (post rebalance/split) is the
    return value itself. Plan-only side channel; nothing executes.
    """

    def cut(frame: DataFrame) -> DataFrame:
        return frame.localCheckpoint(eager=False) if materialize_stages else frame

    def snap(name: str, frame: DataFrame) -> None:
        if stage_ids is not None:
            stage_ids[name] = frame.select(id_col)

    out = docs
    if max_dup_token_frac < 1.0 or max_top_bigram_frac < 1.0:
        rep = repetition_stats(out, id_col, text_col)
        # the threshold filter rides through a GENERATOR, not a where()
        # on the derived fraction columns: predicate pushdown alias-
        # substitutes a plain filter below the stats projection, which
        # re-inlines the whole tokenize+sort+fold HOF tree into the
        # pushed condition (interpreted, no codegen CSE — measured ~90x
        # slower at sf0.1). A filter on the generator OUTPUT cannot
        # push below the Generate.
        cond = (F.col("dup_token_frac") <= max_dup_token_frac) & (
            F.col("top_bigram_frac") <= max_top_bigram_frac
        )
        keep = (
            rep.select(
                F.col(id_col),
                F.explode_outer(F.when(cond, F.array(F.lit(1)))).alias("__k"),
            )
            .where(F.col("__k").isNotNull())
            .select(id_col)
        )
        out = out.join(keep, id_col, "left_semi")
        snap("repetition", out)
    if min_quality > 0.0:
        out = out.where(quality_score(text_col) >= min_quality)
        snap("quality", out)
    if redact_pii:
        other = [c for c in out.columns if c != text_col]
        out = pii_redact(out, text_col, out_col="__red").select(
            *other, F.col("__red").alias(text_col)
        )
    out = cut(exact_dedup(out, text_col, id_col))
    snap("exact_dedup", out)
    if paragraph_dedup_delimiter is not None:
        rebuilt = paragraph_dedup(
            out, id_col, text_col, delimiter=paragraph_dedup_delimiter
        ).select(id_col, F.col("text_dedup").alias(text_col))
        out = cut(out.drop(text_col).join(rebuilt, id_col))
    injected = near_dup_pairs is not None or near_dup_components is not None
    if near_dup_threshold is not None or injected:
        if injected:
            if redact_pii or paragraph_dedup_delimiter is not None:
                raise ValueError(
                    "near_dup_pairs/near_dup_components were computed over the "
                    "ingested corpus; they cannot be combined with stages that "
                    "REWRITE text (redact_pii, paragraph_dedup_delimiter) — "
                    "derive pairs inline instead"
                )
            pairs = near_dup_pairs
        elif near_dup_method == "jaccard":
            pairs = ngram_jaccard_pairs(
                out, id_col, text_col, n=near_dup_ngram, threshold=near_dup_threshold
            )
        elif near_dup_method == "minhash":
            pairs = minhash_lsh_pairs(
                out, id_col, text_col, shingle_n=near_dup_ngram,
                min_est_jaccard=near_dup_threshold,
            )
        elif near_dup_method == "simhash":
            pairs = simhash_near_dup_pairs(
                out, id_col, text_col, bits=60, bands=4,
                max_hamming=near_dup_max_hamming,
            )
        else:
            raise ValueError(
                f"near_dup_method must be jaccard|minhash|simhash, "
                f"got {near_dup_method!r}"
            )
        out = cut(
            near_dedup_keep_best(
                out.withColumn("__len", F.length(text_col)), id_col, "__len",
                pairs, components=near_dup_components,
            )
            .where(F.col("is_representative") == 1)
            .drop("__len", "is_representative")
        )
        snap("near_dup", out)
    if semantic_threshold is not None:
        if semantic_embeddings is None:
            raise ValueError(
                "semantic_threshold requires semantic_embeddings (the "
                "per-doc embedding frame keyed by semantic_id_col)"
            )
        emb = semantic_embeddings.select(
            F.col(semantic_id_col).alias(id_col),
            F.col(semantic_vec_col).alias("__sv"),
        )
        cand = emb.join(out.select(id_col), id_col, "left_semi")
        labels = semdedup(
            cand, id_col, "__sv",
            k=semantic_k, n_rounds=semantic_rounds,
            threshold=semantic_threshold, n_planes=semantic_planes,
            max_bucket_side=semantic_max_bucket_side,
            dim=semantic_dim,
        )
        sem_drop = labels.where(~F.col("keep")).select(id_col)
        out = cut(out.join(sem_drop, id_col, "left_anti"))
        snap("semantic", out)
    if benchmark is not None:
        clean = (
            ngram_contamination(
                out, benchmark, id_col, text_col, min_shared=contamination_min_shared
            )
            .where(F.col("contaminated") == 0)
            .select(id_col)
        )
        out = cut(out.join(clean, id_col, "left_semi"))
        snap("decontamination", out)
    if temperature is not None and domain_col is not None:
        out = temperature_sample(out, domain_col, id_col, temperature)
    if split_weights:
        out = hash_split(out, id_col, split_weights)
    return out


def curate_audit(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    **knobs,
) -> DataFrame:
    """Per-document fate audit of the curation recipe: ``(id_col,
    status)`` where status names the FIRST stage that dropped the doc
    ('repetition_filtered', 'low_quality', 'exact_duplicate',
    'near_duplicate', 'contaminated', 'rebalanced_out') or the kept
    outcome ('kept' / 'kept_<split>' when splitting).

    This is the quality-control view every production pipeline needs —
    "what did curation do to my corpus, and why" — computed from the
    SAME lazy stage frames the recipe itself builds (no re-derivation
    that could drift from the real pipeline). Cost: one extra left
    join per dropping stage against that stage's id set, each on the id
    key the stages already shuffle on.
    """
    stage_ids: dict[str, DataFrame] = {}
    final = curate_corpus(
        docs, benchmark, id_col=id_col, stage_ids=stage_ids, **knobs
    )
    status_of = {
        "repetition": "repetition_filtered",
        "quality": "low_quality",
        "exact_dedup": "exact_duplicate",
        "near_dup": "near_duplicate",
        "semantic": "semantic_duplicate",
        "decontamination": "contaminated",
    }
    out = docs.select(id_col)
    order: list[str] = []
    for name in status_of:
        if name in stage_ids:
            marker = f"__s_{name}"
            out = out.join(
                stage_ids[name].withColumn(marker, F.lit(1)), id_col, "left"
            )
            order.append(name)
    has_split = "split" in final.columns
    kept_cols = [id_col, "split"] if has_split else [id_col]
    out = out.join(
        final.select(*kept_cols).withColumn("__kept", F.lit(1)), id_col, "left"
    )
    status = None
    for name in order:
        cond = F.col(f"__s_{name}").isNull()
        lbl = F.lit(status_of[name])
        status = F.when(cond, lbl) if status is None else status.when(cond, lbl)
    kept_lbl = (
        F.concat(F.lit("kept_"), F.col("split")) if has_split else F.lit("kept")
    )
    tail = F.when(F.col("__kept").isNull(), F.lit("rebalanced_out")).otherwise(
        kept_lbl
    )
    status = tail if status is None else status.otherwise(tail)
    return out.select(F.col(id_col), status.alias("status"))
