"""LLM training-data corpus pipeline (charter X-ops composed end-to-end).

The reference's EP1 is generic ETL; this is the same shape specialized to
what a 100 TB pretraining-corpus pipeline actually runs:

    exact dedup (fingerprint)            X5/X1
    → near-dup removal (MinHash LSH)     X2
    → language filter                    X5
    → quality filter                     X5
    → repetition gate (optional)         X11
    → decontamination (optional)         X10
    → corpus stats                       X5

Every stage is a DataFrame→DataFrame transform; dedup stages are
candidate-generation joins (never all-pairs); stats are one aggregation
pass. The near-dup removal keeps the LOWEST doc id of each connected
pair-component's edge (greedy edge-drop: for every surviving pair (a, b)
with a < b, b is dropped) — the standard one-pass policy that avoids an
iterative connected-components job; at 100 TB you would run it per
LSH-band partition exactly as here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from serverless_data_pipeline_spark.functions.text import (
    fingerprint, quality_score_expr,
)
from serverless_data_pipeline_spark.operators.dedup import (
    dedupe_by_components, minhash_lsh_pairs,
)
from serverless_data_pipeline_spark.operators.text import (
    language_id, token_stats,
)
from serverless_data_pipeline_spark.operators.util import (
    release_checkpoint, spread_checkpoint,
)


@dataclass
class CorpusResult:
    """`cached` lists the frames `prepare_training_corpus` cached (the
    passage/semantic stages and `clean` itself, when counts are
    collected); `checkpoints` lists the stage boundaries it materialized
    with `spread_checkpoint` (the exact- and near-dup survivors) and the
    near-dup plan, whose leaves include the `exact_clusters` component
    map. Their lifetime is CALLER-owned: `clean`/`stats` read through
    them, so they stay persisted until the caller is done — call
    `unpersist()` then (ADVICE r5: repeated pipeline runs in one session
    otherwise accumulate storage memory)."""

    clean: DataFrame
    stats: DataFrame
    counts: dict = field(default_factory=dict)
    cached: list = field(default_factory=list)
    checkpoints: list = field(default_factory=list)

    def unpersist(self) -> None:
        """Release what the pipeline persisted. Call after the last action
        on `clean`/`stats`: both read through the checkpoint leaves, whose
        lineage the local checkpoint truncated, so an action after
        `unpersist()` fails instead of recomputing."""
        for df in self.cached:
            df.unpersist()
        for df in self.checkpoints:
            release_checkpoint(df)
        self.cached.clear()
        self.checkpoints.clear()


def prepare_training_corpus(docs: DataFrame, *,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            languages: tuple[str, ...] = ("en",),
                            min_quality: float = 0.5,
                            jaccard_threshold: float = 0.6,
                            exact_clusters: bool = False,
                            passage_k: int | None = None,
                            embeddings: DataFrame | None = None,
                            semantic_threshold: float = 0.9,
                            semantic_clusters: int = 16,
                            semantic_dim: int | None = None,
                            semantic_centroids: list | None = None,
                            max_dup_ngram_ratio: float | None = None,
                            eval_docs: DataFrame | None = None,
                            decontam_ngram: int = 5,
                            decontam_via: str = "broadcast",
                            decontam_bloom_bits: int = 1 << 28,
                            collect_counts: bool = True) -> CorpusResult:
    """docs(doc_id, text, ...) -> deduped, language- and quality-filtered
    corpus + per-language token statistics.

    `exact_clusters=True` replaces the greedy edge-drop near-dup policy
    with true connected components (keep the min doc id per transitive
    cluster) — a few extra shuffle rounds, exact cluster semantics.

    `passage_k` (X12) rebuilds each surviving doc with repeated
    >=k-token passages excised (ExactSubstr sliding-window dedup) BEFORE
    the language/quality gates, so boilerplate spans do not distort the
    scores; docs whose every token was a repeat disappear, while docs
    that had no tokens to begin with pass through untouched (identical
    to the passage_k=None path). `embeddings` (X2 semantic) — a frame
    keyed by the same `id_col` with an `embedding` column — adds
    SemDeDup: docs whose embedding is dropped within its k-means cluster
    are removed (docs without an embedding row are kept). The embeddings
    are semi-joined against the docs STILL ALIVE at that stage first —
    running SemDeDup over stale rows would let an already-removed doc
    win a semantic family and delete every surviving copy. Without
    `semantic_centroids` the codebook is trained in-line: one Spark job
    at construction (a bounded sample of the live embeddings, fitted on
    the driver; deterministic under any partitioning). At scale pass
    `semantic_centroids` from one offline training, so pipeline
    construction triggers no driver action.

    `max_dup_ngram_ratio` (X11) adds the repetition gate: drop docs whose
    duplicate-trigram ratio exceeds the bound (narrow pass, no shuffle).
    `eval_docs` (X10) adds benchmark decontamination as the final stage:
    drop any surviving doc sharing a distinct `decontam_ngram`-gram with
    the eval set (eval shingles broadcast; the corpus never shuffles).
    `decontam_via="bloom"` swaps in `bloom_decontaminate` with a
    `decontam_bloom_bits`-bit bitmap — the shape for an eval set whose
    raw shingle frame outgrows a broadcast; error is one-sided (may
    over-drop at the Bloom FP rate, never leaks eval data into train).
    Both stages mirror __spark_entry__.py's oracle-checked x7 pipeline.

    Each stage boundary is computed once. The exact- and near-dup
    survivors are materialized with `spread_checkpoint` (the exact one
    as x7 does), so pair generation, the near-dup anti-join, the
    passage probe and rebuild and the counts read a leaf instead of
    re-running the scan, the fingerprint join and pair generation. A
    local checkpoint truncates lineage: `clean`/`stats` stay readable
    only until `CorpusResult.unpersist()` releases the leaves (or an
    executor holding their blocks is lost). With `collect_counts=True`
    the passage/semantic stages and `clean` are cached as well:
    `counts["clean"]` fills the `clean` cache, and the caller's `clean`
    write and `stats` read it instead of re-running the gates and
    decontamination. `counts["input"]` rides the exact-dedup checkpoint
    job and every other count reads a materialized frame — no stage
    runs just to be counted. All of these are CALLER-owned (see
    `CorpusResult`)."""
    if decontam_via not in ("broadcast", "bloom"):
        raise ValueError(f"decontam_via must be 'broadcast' or "
                         f"'bloom', got {decontam_via!r}")
    # exact dedup: keep the lowest id of each fingerprint group (a NULL
    # text has no fingerprint and no group). Every later stage (pair
    # generation on both sides, the near-dup anti-join, the passage
    # probe and rebuild) and the counts read this frame. The input count
    # rides the checkpoint job: each doc passes the fingerprint select
    # exactly once.
    fps = docs.select(id_col, fingerprint(text_col).alias("__fp"))
    if collect_counts:
        seen = Observation()
        fps = fps.observe(seen, F.count(F.lit(1)).alias("n"))
    keep_exact = (fps.filter(F.col("__fp").isNotNull())
                  .groupBy("__fp").agg(F.min(id_col).alias(id_col))
                  .select(id_col))
    exact = spread_checkpoint(docs.join(keep_exact, id_col))
    checkpoints = [exact]

    # near-dup removal: drop the higher id of every surviving LSH pair
    pairs = minhash_lsh_pairs(exact, id_col, text_col,
                              jaccard_threshold=jaccard_threshold)
    if exact_clusters:
        neardeduped = dedupe_by_components(exact, pairs, id_col)
    else:
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        neardeduped = exact.join(drop, id_col, "left_anti")
    # The passage probe, its window and rebuild passes, the semantic
    # semi-join and the count read this frame. Measured on a warm
    # perfbench corpus day (local[2], medians of 3): greedy edge-drop
    # 12.3 -> 9.1 s and 89 -> 78 jobs with the writes (pair generation
    # no longer reruns per reader); neutral with exact_clusters, whose
    # component map is already a leaf. That map's last label round is a
    # checkpoint leaf of the plan below, which no returned frame reads:
    # listing the plan lets `unpersist()` free it (`exact`, its other
    # leaf, is listed already).
    neardup_plan = neardeduped
    neardeduped = spread_checkpoint(neardeduped)
    checkpoints += [neardeduped, neardup_plan]

    stage = neardeduped
    if passage_k is not None:
        from serverless_data_pipeline_spark.operators.corpus import (
            passage_dedup,
        )
        rebuilt = (passage_dedup(stage, id_col, text_col, k=passage_k)
                   .select(id_col, F.col(text_col).alias("__ptext")))
        # left join + coalesce: a doc absent from the rebuilt frame was
        # either excised to nothing (had tokens -> drop, it was pure
        # boilerplate) or had no tokens at all (keep untouched, same as
        # the passage_k=None path).
        # trim == "" is exactly "tokenizes to zero tokens" (tokens() is
        # whitespace splitting) at a string-compare instead of a third
        # corpus-wide tokenize; the isNull arm keeps NULL-text docs on
        # the tokenless path too (ADVICE r5: trim(NULL)=='' is non-true,
        # which silently dropped them here while the passage_k=None path
        # carried them to the gates).
        stage = (stage.join(rebuilt, id_col, "left")
                 .filter(F.col("__ptext").isNotNull()
                         | (F.trim(F.col(text_col)) == "")
                         | F.col(text_col).isNull())
                 .withColumn(text_col,
                             F.coalesce("__ptext", F.col(text_col)))
                 .drop("__ptext"))
    cached: list[DataFrame] = []
    after_passage = stage
    if passage_k is not None and collect_counts:
        # counted below AND consumed by every later stage — without the
        # cache the passage plan (the pipeline's most expensive stage)
        # re-executes for each downstream count + the stats pass.
        # Lifetime is caller-owned via CorpusResult.unpersist().
        after_passage = stage = stage.cache()
        cached.append(stage)

    if embeddings is not None:
        from serverless_data_pipeline_spark.operators.dedup import (
            semantic_dedup,
        )
        # Only embeddings of docs still alive: a stale row could win a
        # semantic family and delete every surviving copy of it.
        live_emb = embeddings.join(stage.select(id_col), id_col,
                                   "left_semi")
        dropped = (semantic_dedup(live_emb, id_col, "embedding",
                                  threshold=semantic_threshold,
                                  n_clusters=semantic_clusters,
                                  dim=semantic_dim,
                                  centroids=semantic_centroids)
                   .filter(~F.col("keep")).select(id_col))
        # anti-join the DROPPED set so docs without an embedding survive
        stage = stage.join(dropped, id_col, "left_anti")
    after_semantic = stage
    if embeddings is not None and collect_counts:
        # same re-execution argument as the passage cache: counted below
        # and consumed by the gates + stats.
        after_semantic = stage = stage.cache()
        cached.append(stage)

    # language + quality gates (single narrow pass each)
    lang_ok = (language_id(stage, text_col)
               .filter(F.col("predicted_lang").isin(*languages)))
    clean = (lang_ok
             .withColumn("__q", quality_score_expr(text_col))
             .filter(F.col("__q") >= min_quality)
             .drop("__q", "predicted_lang"))

    if max_dup_ngram_ratio is not None:
        from serverless_data_pipeline_spark.functions.text import (
            shingles_from_tokens, tokens,
        )
        sh = shingles_from_tokens(tokens(text_col), 3)
        dnr = (F.when(F.size(sh) > 0,
                      1.0 - F.size(F.array_distinct(sh)).cast("double")
                      / F.size(sh).cast("double"))
                .otherwise(F.lit(0.0)))
        clean = (clean.withColumn("__dnr", dnr)
                 .filter(F.col("__dnr") <= max_dup_ngram_ratio)
                 .drop("__dnr"))

    if eval_docs is not None:
        from serverless_data_pipeline_spark.operators.corpus import (
            bloom_decontaminate, decontaminate,
        )
        if decontam_via == "bloom":
            flagged = bloom_decontaminate(clean, eval_docs, id_col,
                                          text_col, n=decontam_ngram,
                                          m_bits=decontam_bloom_bits)
        else:
            flagged = decontaminate(clean, eval_docs, id_col, text_col,
                                    n=decontam_ngram)
        clean = (flagged.filter(~F.col("contaminated"))
                 .drop("n_overlap", "contaminated"))

    if collect_counts:
        # read three times (the count below, the caller's write, the
        # stats pass): the gates and the eval broadcast run once.
        clean = clean.cache()
        cached.append(clean)

    stats = token_stats(clean.withColumn("__lang_group", F.lit("corpus")),
                        text_col, group_col="__lang_group") \
        .withColumnRenamed("__lang_group", "corpus")

    counts = {}
    if collect_counts:
        counts = {"input": seen.get["n"],
                  "after_exact_dedup": exact.count(),
                  "after_near_dedup": neardeduped.count()}
        if passage_k is not None:
            counts["after_passage_dedup"] = after_passage.count()
        if embeddings is not None:
            counts["after_semantic_dedup"] = after_semantic.count()
        counts["clean"] = clean.count()
    return CorpusResult(clean=clean, stats=stats, counts=counts,
                        cached=cached, checkpoints=checkpoints)
