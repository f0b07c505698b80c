"""LLM training-data corpus pipeline (charter X-ops composed end-to-end).

The reference's EP1 is generic ETL; this is the same shape specialized to
what a 100 TB pretraining-corpus pipeline actually runs:

    exact dedup (fingerprint)            X5/X1
    → near-dup removal (MinHash LSH)     X2
    → passage dedup (optional)           X12
    → language filter                    X5      ┐ beside SemDeDup
    → quality filter                     X5      │ (optional, X2),
    → repetition gate (optional)         X11     │ whose dropped ids
    → decontamination (optional)         X10     ┘ are anti-joined after
    → corpus stats                       X5

SemDeDup trains its codebook in-line on a bounded k-means sample; when
that sample holds every live embedding (at most 256 per cluster), it
finishes on the driver, and the day starts no Python worker.

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
    build_concurrently, release_checkpoint, spread_checkpoint,
)


@dataclass
class CorpusResult:
    """`cached` lists the frames `prepare_training_corpus` cached: the
    passage output (with `passage_k`) and `clean` itself.
    `checkpoints` lists the stage boundaries it materialized as
    local-checkpoint leaves (the exact- and near-dup survivors; with
    embeddings, the gated rows and SemDeDup's dropped ids) and the
    near-dup plan, whose leaves include the `exact_clusters` component
    map. Their lifetime is CALLER-owned: `clean`/`stats` read through
    them, so they stay persisted until the caller is done — call
    `unpersist()` then, which frees all of them (ADVICE r5: repeated
    pipeline runs in one session otherwise accumulate storage
    memory)."""

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
                            max_dup_ngram_ratio: float | None = None,
                            eval_docs: DataFrame | None = None,
                            decontam_ngram: int = 5) -> CorpusResult:
    """docs(doc_id, text, ...) -> deduped, language- and quality-filtered
    corpus + per-language token statistics.

    Near-dup pairs are `minhash_lsh_pairs` at `jaccard_threshold`, in
    `operators.dedup`'s one MinHash shape (word 3-grams, 8 bands of 4
    hashes) — the shape the maintenance tick's index stores, so a pair
    this day finds is the pair a tick's probe finds.
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
    are removed (docs without an embedding row are kept). SemDeDup reads
    only the embeddings of docs STILL ALIVE after the passage stage —
    running it over stale rows would let an already-removed doc win a
    semantic family and delete every surviving copy. The codebook is
    trained in-line: one Spark job (a bounded sample of at most 256 x
    `semantic_clusters` live embeddings, fitted on the driver;
    deterministic under any partitioning). When the live embeddings fit
    in that sample, the cell assignment and within-cluster scan run on
    the driver over it too: no shuffle and no Python worker (see
    `semantic_dedup`). A codebook trained offline goes to
    `semantic_dedup(centroids=...)` directly.

    `max_dup_ngram_ratio` (X11) adds the repetition gate: drop docs whose
    duplicate-trigram ratio exceeds the bound (narrow pass, no shuffle).
    `eval_docs` (X10) adds benchmark decontamination as the final stage:
    drop any surviving doc sharing a distinct `decontam_ngram`-gram with
    the eval set (eval shingles broadcast; the corpus never shuffles).
    An eval set whose raw shingle frame outgrows a broadcast goes
    through `operators.corpus.bloom_decontaminate` on `clean` instead.
    Both stages mirror __spark_entry__.py's oracle-checked x7 pipeline.

    Each stage boundary is computed once. The exact- and near-dup
    survivors are `spread_checkpoint` leaves (the exact one as x7
    does), so pair generation, the near-dup anti-join and the passage
    probe and rebuild read a leaf instead of re-running the scan, the
    fingerprint join and pair generation; the passage output is cached
    and filled by its count before anything else reads it. With
    `embeddings` the later work runs as two concurrent branches over
    that output (`build_concurrently`): SemDeDup (the sample job, then
    cell assignment and the within-cluster scan, on the driver when the
    sample holds every live embedding) ends in a checkpoint leaf of
    dropped ids, the gates in a checkpoint leaf of gated rows, and
    `clean` is the gated rows anti-joined with the dropped ids. That
    equals the semantic anti-join followed by the gates: each gate
    judges a row alone (decontamination only against the fixed eval
    set), and SemDeDup still reads the same live embeddings. A local
    checkpoint truncates lineage: `clean`/`stats` stay readable only
    until `CorpusResult.unpersist()` releases the leaves (or an
    executor holding their blocks is lost).

    `counts` holds every stage's row count. `clean` is cached too:
    `counts["clean"]` fills the cache, and the caller's `clean` write
    and `stats` read it instead of re-running the anti-join (or the
    gates). Every other count rides a job that runs anyway: the input,
    exact and near counts are `Observation`s on their checkpoint jobs,
    each at or above the root of its join so that AQE's pruning of an
    empty join side cannot drop it (an empty day counts zeros), the
    passage count is its cache fill, and the semantic count is the
    passage count less the size of the dropped-id leaf (an
    `Observation` on its checkpoint; ids key docs). No stage runs just
    to be counted. All of these are CALLER-owned (see `CorpusResult`)."""
    # Each count rides a job that runs anyway: an Observation on the
    # frame a checkpoint job materializes sees each of its rows once.
    seen: dict[str, Observation] = {}

    def counted(df: DataFrame, name: str) -> DataFrame:
        seen[name] = Observation()
        return df.observe(seen[name], F.count(F.lit(1)).alias("n"))

    # exact dedup: keep the lowest id of each fingerprint group (a NULL
    # text has no fingerprint and no group). Every later stage (pair
    # generation on both sides, the near-dup anti-join, the passage
    # probe and rebuild) reads this frame. The input count rides its
    # checkpoint job at the root of a left join that carries every doc
    # (ids key docs): AQE prunes an inner join with an empty side, and
    # with it any Observation below, whose count then never arrives.
    keep_exact = (docs.select(id_col, fingerprint(text_col).alias("__fp"))
                  .filter(F.col("__fp").isNotNull())
                  .groupBy("__fp").agg(F.min(id_col).alias(id_col))
                  .select(id_col, F.lit(True).alias("__keep")))
    flagged = counted(docs.join(keep_exact, id_col, "left"), "input")
    exact = spread_checkpoint(counted(
        flagged.filter(F.col("__keep")).drop("__keep"), "after_exact_dedup"))
    checkpoints = [exact]

    # near-dup removal: drop the higher id of every surviving LSH pair
    pairs = minhash_lsh_pairs(exact, id_col, text_col,
                              jaccard_threshold=jaccard_threshold)
    if exact_clusters:
        neardeduped = dedupe_by_components(exact, pairs, id_col)
    else:
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        neardeduped = exact.join(drop, id_col, "left_anti")
    # The passage probe, its window and rebuild passes and the semantic
    # semi-join read this frame. Measured on a warm perfbench corpus
    # day (local[2], medians of 3): greedy edge-drop 12.3 -> 9.1 s and
    # 89 -> 78 jobs with the writes (pair generation no longer reruns
    # per reader); neutral with exact_clusters, whose component map is
    # already a leaf. That map's last label round is a checkpoint leaf
    # of the plan below, which no returned frame reads: listing the plan
    # lets `unpersist()` free it (`exact`, its other leaf, is listed
    # already).
    neardup_plan = counted(neardeduped, "after_near_dedup")
    neardeduped = spread_checkpoint(neardup_plan)
    checkpoints += [neardeduped, neardup_plan]

    stage = neardeduped
    cached: list[DataFrame] = []
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
        # The pipeline's most expensive stage, read by the count, the
        # gates and the semantic semi-join: cached, and filled by the
        # count before the branches below start, so neither of them runs
        # it. A cache, not a checkpoint: AQE may not coalesce a cached
        # plan's join, so the gates keep its id-hash partitions.
        stage = stage.cache()
        cached.append(stage)
        n_passage = stage.count()

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
            decontaminate,
        )
        flagged = decontaminate(clean, eval_docs, id_col, text_col,
                                n=decontam_ngram)
        clean = (flagged.filter(~F.col("contaminated"))
                 .drop("n_overlap", "contaminated"))

    if embeddings is not None:
        from serverless_data_pipeline_spark.operators.dedup import (
            semantic_dedup,
        )
        # Only embeddings of docs still alive: a stale row could win a
        # semantic family and delete every surviving copy of it.
        live_emb = embeddings.join(stage.select(id_col), id_col,
                                   "left_semi")

        def semantic_drops() -> DataFrame:
            dropped = (semantic_dedup(live_emb, id_col, "embedding",
                                      threshold=semantic_threshold,
                                      n_clusters=semantic_clusters,
                                      dim=semantic_dim)
                       .filter(~F.col("keep")).select(id_col).distinct())
            return counted(dropped, "semantic_drops").localCheckpoint(
                eager=True)

        # SemDeDup (a k-means sample and driver fit, then cell
        # assignment and the within-cluster scan, on the driver when the
        # sample holds every live embedding) and the gates run
        # concurrently over the same stage, so each fills the cores the
        # other leaves idle. Each gate judges a row alone and
        # SemDeDup reads only live ids, so anti-joining the dropped set
        # after the gates keeps exactly the rows of the semantic
        # anti-join followed by the gates. The gated leaf is a plain
        # checkpoint: it keeps the stage's partitions, as the gates do.
        gated, dropped = build_concurrently(
            lambda: clean.localCheckpoint(eager=True), semantic_drops)
        checkpoints += [gated, dropped]
        # anti-join the DROPPED set so docs without an embedding survive
        clean = gated.join(dropped, id_col, "left_anti")

    # read three times (the count below, the caller's write, the stats
    # pass): the gates (or the anti-join of the two leaves) run once.
    clean = clean.cache()
    cached.append(clean)

    stats = token_stats(clean.withColumn("__lang_group", F.lit("corpus")),
                        text_col, group_col="__lang_group") \
        .withColumnRenamed("__lang_group", "corpus")

    counts = {name: obs.get["n"] for name, obs in seen.items()}
    n_dropped = counts.pop("semantic_drops", 0)
    if passage_k is not None:
        counts["after_passage_dedup"] = n_passage
    if embeddings is not None:
        # the dropped ids are distinct live ids, and ids key docs
        counts["after_semantic_dedup"] = (
            counts.get("after_passage_dedup", counts["after_near_dedup"])
            - n_dropped)
    counts["clean"] = clean.count()
    return CorpusResult(clean=clean, stats=stats, counts=counts,
                        cached=cached, checkpoints=checkpoints)
