"""Incremental corpus maintenance (charter extension; the daily-operations
path of X1/X2/X7).

A production pretraining pipeline lands a NEW crawl batch DAILY against an
EXISTING deduplicated corpus. Recomputing full-corpus dedup per landing is
O(corpus) per day — at 100 TB that is the difference between a 30-minute
batch job and a multi-day rescan. The incremental contract instead probes
the new batch against a PERSISTED per-document index (exact fingerprint +
MinHash signature and/or shingle-hash set), drops the hits, dedups the
batch internally, then merges the survivors into the corpus and APPENDS
their index rows — the existing corpus's TEXT is never rescanned
(plan-asserted in tests/test_incremental.py: only the compact index is
read), and the index grows by exactly the surviving batch.

Reference anchor: the reference pipeline is event-driven incremental
(py:634-666 — every landed object triggers processing of THAT object
only), never full-recompute; this module is that contract applied to
corpus dedup. Semantics follow the dedup literature's incremental stance
(CCNet / Lee et al. 2022): an arriving document that duplicates the
existing corpus is dropped; the corpus is never retroactively edited by
an arrival. Hence the staged-semantics guarantee: incremental processing
equals a full recompute whose keep-rule is "first batch wins, then min
id" for EXACT duplicates (property-tested), while near-dup components
that only become connected ACROSS batches keep each batch's canonical —
the documented, deliberate divergence every incremental dedup shares
(the alternative IS the full rescan this operator exists to avoid).

Scale shape per stage (batch B << corpus C):
- exact probe: equi-join on the 32-byte fingerprint — only the index's
  fp COLUMN moves, never corpus text; with a small batch, broadcastable.
- near-dup probe: banded MinHash bucket join (signatures read from the
  index, num_hashes longs/doc) or shingle-hash inverted join (exact
  Jaccard, index stores the distinct shingle-hash set) — both
  candidate-generation, never all-pairs.
- within-batch dedup: the existing X1/X2 operators over B alone.
- commit: one broadcast anti-join merge (merge_upsert) + an APPEND of
  |survivors| index rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from serverless_data_pipeline_spark.functions.text import fingerprint
from serverless_data_pipeline_spark.operators.dedup import (
    _shingled, minhash_lsh_pairs, neardup_components, ngram_jaccard_pairs,
)

__all__ = ["corpus_index", "build_corpus_index", "incremental_dedup",
           "bootstrap_corpus", "commit_batch", "maintenance_stream",
           "incremental_semantic_dedup"]

DROP_REASONS = ("exact_index", "exact_batch", "neardup_index",
                "neardup_batch")


def corpus_index(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", *,
                 num_hashes: int = 32, shingle_n: int = 3,
                 store: tuple[str, ...] = ("minhash", "shingles"),
                 ) -> DataFrame:
    """The persisted per-document dedup index frame: one row per corpus
    document with every signal the incremental probe needs, so the probe
    NEVER touches corpus text again.

    Columns: ``id_col``, ``fp`` (md5 of case/whitespace-normalized text —
    the X1 exact-dup fingerprint), and per ``store`` member:
    - ``"minhash"``: ``sig`` array<long> of ``num_hashes`` MinHash values
      over word ``shingle_n``-grams — the 100 TB probe signal
      (``num_hashes * 8`` bytes/doc regardless of document size).
    - ``"shingles"``: ``shset`` (sorted distinct xxhash64 shingle hashes)
      + ``sz`` — supports EXACT-Jaccard probing; ~8 bytes per distinct
      shingle, i.e. comparable to the compressed text itself. Store it
      when exactness matters more than index size (it is also the
      oracle-checkable mode); at raw 100 TB scale prefer minhash-only.

    One shingle explode feeds BOTH signals (two groupBys on the same
    key); ``fp`` is a narrow projection joined on id. Append-only by
    design: committing a new batch appends its survivors' rows
    (``commit_batch``), never rewrites existing ones."""
    if not store:
        raise ValueError("store must request at least one probe signal")
    unknown = set(store) - {"minhash", "shingles"}
    if unknown:
        raise ValueError(f"unknown store signals: {sorted(unknown)}")
    out = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    sh = (_shingled(df, id_col, text_col, shingle_n)
          .select(F.col(id_col), F.xxhash64("__sh").alias("__h0")))
    if "minhash" in store:
        mins = [F.min(F.xxhash64(F.col("__h0"), F.lit(i)))
                for i in range(num_hashes)]
        sig = sh.groupBy(id_col).agg(F.array(*mins).alias("sig"))
        out = out.join(sig, id_col, "left")
    if "shingles" in store:
        shset = (sh.groupBy(id_col)
                 .agg(F.sort_array(F.collect_set("__h0")).alias("shset")))
        out = (out.join(shset, id_col, "left")
               .withColumn("shset",
                           F.coalesce("shset", F.array().cast(
                               "array<long>")))
               .withColumn("sz", F.size("shset")))
    return out


def build_corpus_index(df: DataFrame, index_path: str,
                       id_col: str = "doc_id", text_col: str = "text", *,
                       mode: str = "overwrite", **kwargs) -> None:
    """Materialize ``corpus_index`` to parquet at ``index_path``."""
    corpus_index(df, id_col, text_col, **kwargs).write.mode(mode) \
        .parquet(index_path)


def _banded(sig_frame: DataFrame, id_alias: str, bands: int,
            rows_per_band: int) -> DataFrame:
    """(id, band, bsig) bucket keys from a (id, sig array<long>) frame —
    the same banding scheme as minhash_lsh_pairs, applied to a STORED
    signature array (no text, no shingling)."""
    bks = [F.struct(
        F.lit(b).alias("band"),
        F.xxhash64(*[F.element_at("sig", b * rows_per_band + i + 1)
                     for i in range(rows_per_band)]).alias("bsig"))
        for b in range(bands)]
    return (sig_frame.select(F.col(sig_frame.columns[0]).alias(id_alias),
                             "sig", F.explode(F.array(*bks)).alias("bk"))
            .select(id_alias, "sig",
                    F.col("bk.band").alias("band"),
                    F.col("bk.bsig").alias("bsig")))


def _probe_minhash(batch: DataFrame, index: DataFrame, id_col: str,
                   text_col: str, shingle_n: int, num_hashes: int,
                   bands: int, threshold: float) -> DataFrame:
    """Batch ids whose estimated Jaccard vs ANY index doc >= threshold,
    via banded LSH over the STORED index signatures (index text never
    read — it does not even exist in the index). Candidate generation is
    the (band, bsig) bucket equi-join; verification is the matching-
    minhash fraction over the two signature arrays."""
    from serverless_data_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )
    rows_per_band = num_hashes // bands
    bsig = minhash_signatures(batch, id_col, text_col, num_hashes,
                              shingle_n)
    barr = bsig.select(F.col(id_col).alias("__bid"),
                       F.array(*[F.col(f"mh_{i}")
                                 for i in range(num_hashes)]).alias("sig"))
    bb = _banded(barr, "__bid", bands, rows_per_band)
    ib = _banded(index.select(F.col(id_col).alias("__iid"), "sig"),
                 "__iid", bands, rows_per_band)
    cand = (bb.alias("a").join(ib.alias("b"), ["band", "bsig"])
            .select(F.col("a.__bid").alias("__bid"),
                    F.col("a.sig").alias("sig_a"),
                    F.col("b.__iid").alias("__iid"),
                    F.col("b.sig").alias("sig_b"))
            .dropDuplicates(["__bid", "__iid"]))
    est = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        lambda v: v == 1)).cast("double") / F.lit(float(num_hashes))
    return (cand.filter(est >= threshold)
            .select(F.col("__bid").alias(id_col)).distinct())


def _probe_jaccard(batch: DataFrame, index: DataFrame, id_col: str,
                   text_col: str, shingle_n: int,
                   threshold: float) -> DataFrame:
    """Batch ids whose EXACT Jaccard (over distinct word shingle-hash
    sets) vs ANY index doc >= threshold. The batch side shingles from
    text; the index side explodes its STORED ``shset`` — an inverted
    shingle join (candidates share >= 1 shingle), never all-pairs."""
    bsh = (_shingled(batch, id_col, text_col, shingle_n)
           .select(F.col(id_col).alias("__bid"),
                   F.xxhash64("__sh").alias("__h")))
    bsz = bsh.groupBy("__bid").agg(F.count(F.lit(1)).alias("__bsz"))
    ish = index.select(F.col(id_col).alias("__iid"), F.col("sz"),
                       F.explode("shset").alias("__h"))
    common = (bsh.join(ish, "__h")
              .groupBy("__bid", "__iid", "sz")
              .agg(F.count(F.lit(1)).alias("__c")))
    jacc = (F.col("__c").cast("double")
            / (F.col("__bsz") + F.col("sz") - F.col("__c")))
    return (common.join(bsz, "__bid")
            .filter(jacc >= threshold)
            .select(F.col("__bid").alias(id_col)).distinct())


def incremental_dedup(batch: DataFrame, index: DataFrame | None,
                      id_col: str = "doc_id", text_col: str = "text", *,
                      probe: str = "exact", threshold: float | None = 0.5,
                      shingle_n: int = 3, num_hashes: int = 32,
                      bands: int = 8,
                      within_batch: bool | str = "full") -> DataFrame:
    """Dedup a NEW batch against a PERSISTED corpus index without
    rescanning the corpus. Returns ``batch`` + ``drop_reason`` (NULL for
    survivors), with stages applied in this fixed order — each stage only
    sees the previous stage's survivors:

    1. ``exact_index``  — fingerprint already in the index (X1 vs corpus)
    2. ``exact_batch``  — non-minimal id of a within-batch fp class
    3. ``neardup_index``— Jaccard vs some index doc >= ``threshold``
       (``probe="exact"``: exact Jaccard via the stored shingle sets;
       ``probe="minhash"``: estimated Jaccard via the stored signatures
       — the 100 TB path)
    4. ``neardup_batch``— non-canonical member of a within-batch near-dup
       component (the X2 pair graph + connected components, min id kept)

    ``index=None`` bootstraps (stages 2 and 4 only — day-1 of a corpus).
    ``threshold=None`` disables both near-dup stages (exact-only mode).
    ``within_batch`` selects the internal-dedup depth: ``"full"`` (both
    stages 2 and 4), ``"exact"`` (stage 2 only — skip the within-batch
    pair graph + CC when the batch's internal near-dups are handled by
    a separate X2 pass, or when probe-vs-index latency matters more),
    ``"none"`` (probe-only, for a batch already deduped upstream).
    Booleans alias "full"/"none" for compatibility.

    The survivors are exactly the docs ``commit_batch`` should merge.
    Idempotent re-delivery: re-probing an already-committed batch drops
    EVERY row as ``exact_index`` (property-tested) — the storage-layer
    analogue of the reference's redelivery discipline (py:133-137)."""
    if probe not in ("exact", "minhash"):
        raise ValueError(f"probe must be 'exact' or 'minhash', got "
                         f"{probe!r}")
    if isinstance(within_batch, bool):
        within_batch = "full" if within_batch else "none"
    if within_batch not in ("full", "exact", "none"):
        raise ValueError(f"within_batch must be 'full', 'exact' or "
                         f"'none', got {within_batch!r}")
    wb_exact = within_batch in ("full", "exact")
    wb_neardup = within_batch == "full"
    if index is not None:
        missing = {"fp"} - set(index.columns)
        if probe == "exact" and threshold is not None:
            missing |= {"shset", "sz"} - set(index.columns)
        if probe == "minhash" and threshold is not None:
            missing |= {"sig"} - set(index.columns)
        if missing:
            raise ValueError(
                f"index lacks columns {sorted(missing)} for probe="
                f"{probe!r} — rebuild with corpus_index(store=...)")
    cur = batch.withColumn("__fp", fingerprint(text_col))
    dropped: list[DataFrame] = []

    def _drop(ids: DataFrame, reason: str) -> None:
        dropped.append(ids.select(F.col(id_col),
                                  F.lit(reason).alias("drop_reason")))

    if index is not None:
        idx_fp = index.select(F.col("fp").alias("__fp"))
        _drop(cur.join(idx_fp, "__fp", "left_semi"), "exact_index")
        cur = cur.join(idx_fp, "__fp", "left_anti")
    if wb_exact:
        keep = cur.groupBy("__fp").agg(F.min(id_col).alias(id_col))
        _drop(cur.join(keep.select(id_col), id_col, "left_anti"),
              "exact_batch")
        cur = cur.join(keep.select(id_col), id_col, "left_semi")
    if threshold is not None and (index is not None or wb_neardup):
        # The exact-survivor frame feeds every remaining consumer (the
        # index probe, the pair generator's index/verify sides, and two
        # anti-joins); checkpoint once so they all read a compact leaf
        # instead of re-running the fp joins.
        cur = cur.localCheckpoint(eager=True)
    if index is not None and threshold is not None:
        hits = (_probe_jaccard(cur, index, id_col, text_col, shingle_n,
                               threshold)
                if probe == "exact" else
                _probe_minhash(cur, index, id_col, text_col, shingle_n,
                               num_hashes, bands, threshold))
        _drop(hits, "neardup_index")
        cur = cur.join(hits, id_col, "left_anti")
    if wb_neardup and threshold is not None:
        pairs = (ngram_jaccard_pairs(cur, id_col, text_col, n=shingle_n,
                                     threshold=threshold)
                 if probe == "exact" else
                 minhash_lsh_pairs(cur, id_col, text_col,
                                   num_hashes=num_hashes, bands=bands,
                                   shingle_n=shingle_n,
                                   jaccard_threshold=threshold))
        comp = neardup_components(pairs)
        _drop(comp.filter(F.col("id") != F.col("component_id"))
              .select(F.col("id").alias(id_col)), "neardup_batch")
    if not dropped:
        return batch.withColumn("drop_reason",
                                F.lit(None).cast("string"))
    reasons = dropped[0]
    for d in dropped[1:]:
        reasons = reasons.unionAll(d)
    return batch.join(reasons, id_col, "left")


def bootstrap_corpus(spark, batch: DataFrame, corpus_path: str,
                     index_path: str, id_col: str = "doc_id",
                     text_col: str = "text", *, probe: str = "exact",
                     threshold: float | None = 0.5, shingle_n: int = 3,
                     num_hashes: int = 32, bands: int = 8,
                     within_batch: bool | str = "full",
                     store: tuple[str, ...] = ("minhash", "shingles"),
                     ) -> DataFrame:
    """Day-1: dedup the first batch internally, write it as the corpus,
    build its index. Returns the verdict frame (batch + drop_reason)."""
    verdicts = incremental_dedup(batch, None, id_col, text_col,
                                 probe=probe, threshold=threshold,
                                 shingle_n=shingle_n,
                                 num_hashes=num_hashes, bands=bands,
                                 within_batch=within_batch)
    # compute ONCE: the survivors write below and whatever the caller
    # does with the returned frame (maintenance_stream writes the
    # verdict audit log) must share one execution of the within-batch
    # dedup — un-checkpointed, the pair graph + CC would re-run per
    # consumer (the non-bootstrap tick checkpoints for the same reason)
    verdicts = verdicts.localCheckpoint(eager=True)
    survivors = verdicts.filter(F.col("drop_reason").isNull()) \
        .drop("drop_reason")
    survivors.write.mode("overwrite").parquet(corpus_path)
    build_corpus_index(spark.read.parquet(corpus_path), index_path,
                       id_col, text_col, mode="overwrite",
                       shingle_n=shingle_n, num_hashes=num_hashes,
                       store=store)
    return verdicts


def commit_batch(spark, verdicts: DataFrame, corpus_path: str,
                 index_path: str, id_col: str = "doc_id",
                 text_col: str = "text", *, shingle_n: int = 3,
                 num_hashes: int = 32,
                 store: tuple[str, ...] = ("minhash", "shingles")) -> int:
    """Day-N commit: merge the batch's survivors into the corpus
    (merge_upsert — idempotent under re-delivery) and APPEND their index
    rows. Returns the merged corpus row count. The index append writes
    |survivors| rows; nothing existing is rewritten."""
    from serverless_data_pipeline_spark.sources.writers import merge_upsert
    survivors = verdicts.filter(F.col("drop_reason").isNull()) \
        .drop("drop_reason")
    n = merge_upsert(spark, corpus_path, survivors, keys=[id_col])
    corpus_index(survivors, id_col, text_col, shingle_n=shingle_n,
                 num_hashes=num_hashes, store=store) \
        .write.mode("append").parquet(index_path)
    return n


def maintenance_stream(spark, landing_path: str, schema,
                       corpus_path: str, index_path: str,
                       checkpoint: str, *, fmt: str = "json",
                       id_col: str = "doc_id", text_col: str = "text",
                       probe: str = "exact",
                       threshold: float | None = 0.5,
                       shingle_n: int = 3, num_hashes: int = 32,
                       bands: int = 8,
                       within_batch: bool | str = "full",
                       store: tuple[str, ...] = ("minhash", "shingles"),
                       verdict_path: str | None = None,
                       available_now: bool = True,
                       interval_s: float = 3600.0,
                       max_files_per_tick: int | None = None):
    """The daily-operations loop as ONE streaming query: S9's scheduled
    incremental tick driving the incremental-dedup commit protocol.

    Each tick's micro-batch is exactly the files landed since the last
    tick (checkpointed file source — restart-safe, never re-reads old
    landings). The first-ever tick bootstraps the corpus + index
    (`bootstrap_corpus`); every later tick probes the PERSISTED index
    (corpus text is never rescanned), drops duplicates, merges the
    survivors (`commit_batch` — merge_upsert keyed on ``id_col``, so
    the at-least-once foreachBatch contract is safe: a re-delivered
    tick re-drops everything as `exact_index` and merges nothing new),
    and appends the survivors' index rows. Optionally appends a
    per-tick verdict audit log (id, drop_reason, tick_id) to
    ``verdict_path`` — the ops trail of WHY each landed doc was kept or
    dropped.

    `available_now=True` drains the current backlog in bounded ticks
    and stops (backfill / test mode); `False` keeps firing on the
    EventBridge-style fixed-rate grid (`interval_s`) until `.stop()` —
    the engine-native form of the reference's hourly rule (py:658-666)
    composed with its event-driven object processing (py:634-666).

    Scale: everything inside a tick is batch-side (the operators above
    carry their own 100 TB shapes); the stream layer adds only file
    tracking. Bound a backlogged landing zone with
    ``max_files_per_tick`` so one giant catch-up batch cannot land in
    a single tick."""
    from serverless_data_pipeline_spark.plans.scheduler import (
        scheduled_batch_query,
    )

    from serverless_data_pipeline_spark.operators.util import hadoop_fs

    def _exists(path: str) -> bool:
        fs, jpath = hadoop_fs(spark, path)
        return fs.exists(jpath)

    def _tick(batch_df, tick_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not _exists(index_path):
            verdicts = bootstrap_corpus(
                spark, batch_df, corpus_path, index_path, id_col,
                text_col, probe=probe, threshold=threshold,
                shingle_n=shingle_n, num_hashes=num_hashes,
                bands=bands, within_batch=within_batch, store=store)
        else:
            idx = spark.read.parquet(index_path)
            verdicts = incremental_dedup(
                batch_df, idx, id_col, text_col, probe=probe,
                threshold=threshold, shingle_n=shingle_n,
                num_hashes=num_hashes, bands=bands,
                within_batch=within_batch)
            # audit log must see the same verdicts commit acts on, not
            # recompute them against a by-then-mutated index
            verdicts = verdicts.localCheckpoint(eager=True)
            commit_batch(spark, verdicts, corpus_path, index_path,
                         id_col, text_col, shingle_n=shingle_n,
                         num_hashes=num_hashes, store=store)
        if verdict_path is not None:
            (verdicts.select(F.col(id_col), F.col("drop_reason"),
                             F.lit(tick_id).alias("tick_id"))
             .write.mode("append").parquet(verdict_path))

    return scheduled_batch_query(
        spark, landing_path, schema, _tick, checkpoint,
        interval_s=interval_s, fmt=fmt, available_now=available_now,
        max_files_per_tick=max_files_per_tick)


def incremental_semantic_dedup(batch: DataFrame, index: DataFrame,
                               id_col: str, vec_col: str,
                               centroids: list[list[float]], dim: int,
                               *, threshold: float = 0.9,
                               cell_col: str = "ivf_cell") -> DataFrame:
    """The embedding-side sibling of ``incremental_dedup``: drop new
    vectors that SEMANTICALLY duplicate the existing corpus (cosine vs
    any indexed vector >= ``threshold``) by probing a PERSISTED IVF
    cell index — the daily-landing form of SemDeDup, where the
    expensive k-means codebook is trained once offline and each
    arriving batch only pays one cell assignment + one cell-equality
    join.

    ``index`` is the materialized ``assign_ivf_cells`` output
    (``id_col``, ``vec_col``, ``cell_col``) — written
    ``partitionBy(cell_col)``, the join's cell filter partition-prunes
    exactly like ``ivf_topk_indexed``. Candidate generation is top-1
    cell equality: a true near-duplicate (cosine ~1) shares its
    nearest centroid except on cell boundaries, the same probe/recall
    trade every IVF deployment makes — raise the codebook's
    ``n_cells`` training sample or run a second pass with perturbed
    centroids if boundary misses matter. Verification is the exact
    pairwise cosine (Arrow-batched BLAS, no per-row Python).

    Returns ``batch`` + ``drop_reason`` (``semdup_index`` or NULL),
    matching ``incremental_dedup``'s verdict shape; compose with
    ``semantic_dedup`` on the survivors for within-batch semantic
    dedup, and append survivors' (id, vec, cell) rows to the index to
    commit. Scale: batch-sized cell assignment (narrow), one
    equi-join keyed on the cell id whose index side reads n_cells'
    worth of candidate CELLS, not the whole corpus."""
    from serverless_data_pipeline_spark.functions.vectors_np import (
        pair_cosine_udf,
    )
    from serverless_data_pipeline_spark.operators.similarity import (
        assign_ivf_cells,
    )
    missing = {cell_col, vec_col} - set(index.columns)
    if missing:
        raise ValueError(f"index lacks columns {sorted(missing)} — "
                         "materialize assign_ivf_cells output")
    b = assign_ivf_cells(batch.select(F.col(id_col), F.col(vec_col)),
                         vec_col, centroids, dim, out_col="__bc")
    cand = (b.select(F.col(id_col).alias("__bid"),
                     F.col(vec_col).alias("__bv"), "__bc")
            .join(index.select(F.col(cell_col).alias("__bc"),
                               F.col(vec_col).alias("__iv")), "__bc"))
    hits = (cand
            .withColumn("__s", pair_cosine_udf(dim)(F.col("__bv"),
                                                    F.col("__iv")))
            .filter(F.col("__s") >= threshold)
            .select(F.col("__bid").alias(id_col)).distinct())
    return batch.join(
        hits.withColumn("drop_reason", F.lit("semdup_index")),
        id_col, "left")
