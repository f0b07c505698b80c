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
- exact probe: equi-join on the 16-byte binary fingerprint (the md5's
  raw bytes) — only the index's fp COLUMN moves, never corpus text; with
  a small batch, broadcastable.
- features: ONE pass over the exact survivors' text (shingle explode +
  groupBy(id, fp)) computes the signal the probe reads (``sig``: a
  packed 16-bit MinHash, 64 bytes/doc; or ``shset``/``sz``)
  into a compact (id, fp, signal) checkpoint. Every later stage — the
  index probe, the within-batch pairs and the commit's index rows —
  reads that leaf; no stage re-shingles the batch (the within-batch
  exact-Jaccard pairs of ``probe="exact"`` excepted, which shingle the
  survivors once more).
- near-dup probe: banded MinHash bucket join of the batch signatures
  against the signatures read from the index (the same banding helper
  as the within-batch pairs), or an inverted join on stored shingle
  hashes (exact Jaccard) — both candidate-generation, never all-pairs.
  The hits are materialized once.
- within-batch dedup: the X2 pair graph (banded pairs over the leaf's
  signatures, or exact-Jaccard pairs) + connected components over B.
- commit: one broadcast anti-join merge (merge_upsert) + an APPEND of
  |survivors| index rows holding exactly the signals the index stores
  (a new index stores the one its probe reads: for ``probe="minhash"``
  an index row is an 8-byte id, a 16-byte fp and a 64-byte sig —
  |C| x 88 bytes, ~95 B/doc as snappy parquet).

The shingle n and the MinHash/LSH shape are the constants of
``operators.dedup`` (word 3-grams, 8 bands of 4 hashes), shared by the
corpus day's ``minhash_lsh_pairs``, the probe and every index row, so a
tick can never write or read an index at another shape. The index does
not record its shape, and a ``sig`` width cannot be checked without a
job: an index written at another shape must be rebuilt with
``corpus_index``.

Day 1 is no special case: with no index yet, a batch is probed against
nothing (``index=None``: the within-batch stages only) and committed
like any other; ``merge_upsert`` treats the missing corpus as an empty
table (but raises if a failed swap left the corpus in its temp dir),
and the append creates the index.

An index written before fp and sig were packed (a string ``fp``, an
``array<long>`` ``sig``) is refused with a ``ValueError`` by
``incremental_dedup`` and ``commit_batch``: rebuild it with
``corpus_index``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructType

from serverless_data_pipeline_spark.functions.text import (
    fingerprint, shingles_from_tokens,
)
# minhash_lsh_pairs is re-exported: perfbench/layers.py times it under
# this module's name.
from serverless_data_pipeline_spark.operators.dedup import (  # noqa: F401
    _SHINGLE_N, _banded_pairs, _minhash_sig, _tokens_of,
    minhash_lsh_pairs, neardup_components, ngram_jaccard_pairs,
)
from serverless_data_pipeline_spark.operators.util import (
    hadoop_fs, release_checkpoint, spread_small_input as _spread,
)

__all__ = ["corpus_index", "incremental_dedup", "commit_batch",
           "maintenance_stream"]

DROP_REASONS = ("exact_index", "exact_batch", "neardup_index",
                "neardup_batch")

# the columns each index signal adds after (id, fp)
_SIGNAL_COLS = {"minhash": ("sig",), "shingles": ("shset", "sz")}


def _probe_signal(probe: str) -> tuple[str, ...]:
    """The index signal ``probe`` reads: what a new index stores."""
    if probe not in ("exact", "minhash"):
        raise ValueError(f"probe must be 'exact' or 'minhash', got "
                         f"{probe!r}")
    return ("minhash",) if probe == "minhash" else ("shingles",)


def _signal_cols(store: tuple[str, ...]) -> list[str]:
    return [c for s, cols in _SIGNAL_COLS.items() if s in store
            for c in cols]


def _fp(text_col: str):
    """The index fingerprint: the 16 raw bytes of ``fingerprint``'s md5."""
    return F.unhex(fingerprint(text_col))


def _check_packed(schema: StructType) -> None:
    """Refuse an index whose ``fp`` or ``sig`` is not ``binary``: one
    written before they were packed. Its string ``fp`` would silently
    match no batch fingerprint (the join casts the string side to
    binary), so every ``exact_index`` duplicate would slip through."""
    for col in ("fp", "sig"):
        if (col in schema.fieldNames()
                and not isinstance(schema[col].dataType, BinaryType)):
            raise ValueError(
                f"index column {col!r} is "
                f"{schema[col].dataType.simpleString()}, not binary: the "
                f"index predates packed signatures; rebuild with "
                f"corpus_index")


def _features(df: DataFrame, id_col: str, fp_col: str, text_col: str,
              store: tuple[str, ...]) -> DataFrame:
    """(``id_col``, ``fp``, the ``store`` signal columns): one row per
    (id, fingerprint) of ``df``, from ONE read of it — tokens, distinct
    shingles, one explode and one groupBy(id, fp) feed every signal; the
    fingerprint rides along as a group key, so nothing is joined back
    and ``df`` (a batch's exact survivors, a corpus) is read once. A doc
    with no shingles (empty text) keeps its row through explode_outer,
    with a NULL ``sig`` and an empty ``shset``.

    The string key costs aggregation CPU: on the 10x scale_check corpus
    (50k docs, read from an in-memory checkpoint, local[4]) a minhash
    index builds in 9.7-10.2 s vs 8.1-9.5 s for joining the (id, fp)
    projection back onto a groupBy(id), which reads ``df`` twice.
    Carrying fp as a first() buffer instead measured 12.4-13.1 s (a
    string buffer defeats the fixed-width hash aggregate)."""
    toks = _spread(df.select(F.col(id_col), F.col(fp_col).alias("fp"),
                             _tokens_of(df, text_col).alias("__toks")))
    sh = toks.select(id_col, "fp", F.explode_outer(F.array_distinct(
        shingles_from_tokens("__toks", _SHINGLE_N))).alias("__sh"))
    sh = sh.select(id_col, "fp", F.when(F.col("__sh").isNotNull(),
                                        F.xxhash64("__sh")).alias("__h0"))
    aggs = []
    if "minhash" in store:
        aggs.append(F.when(F.count("__h0") > 0,
                           _minhash_sig("__h0")).alias("sig"))
    if "shingles" in store:
        shset = F.sort_array(F.collect_set("__h0"))
        aggs += [shset.alias("shset"), F.size(shset).alias("sz")]
    return sh.groupBy(id_col, "fp").agg(*aggs)


def corpus_index(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", *,
                 probe: str = "exact") -> DataFrame:
    """The persisted per-document dedup index frame: one row per corpus
    document with the signal ``incremental_dedup(probe=...)`` reads, so
    the probe NEVER touches corpus text again.

    Columns: ``id_col``, ``fp`` (the 16-byte binary md5 of
    case/whitespace-normalized text — the X1 exact-dup fingerprint), and
    the ``probe`` signal:
    - ``"minhash"``: ``sig``, 32 16-bit MinHash values over word
      3-grams packed into one ``binary`` (see
      ``operators.dedup._minhash_sig``; the shape is that module's
      constants) — the 100 TB probe signal, 64 bytes/doc regardless of
      document size. With the 8-byte id that is 88 B/doc (~95 B/doc
      written as snappy parquet; a hex ``fp`` and ``array<long>``
      ``sig`` measured 297 B/doc).
    - ``"exact"``: ``shset`` (sorted distinct xxhash64 word-3-gram hashes)
      + ``sz`` — supports EXACT-Jaccard probing; ~8 bytes per distinct
      shingle, i.e. comparable to the compressed text itself. Use it
      when exactness matters more than index size (it is also the
      oracle-checkable mode); at raw 100 TB scale prefer minhash.

    One read: a shingle explode and one groupBy(id, fp), with no join.
    Append-only by design: committing a new batch appends its
    survivors' rows (``commit_batch``), never rewrites existing ones."""
    return _index_rows(df, None, id_col, text_col, _probe_signal(probe))


def _probe_jaccard(cur: DataFrame, index: DataFrame, id_col: str,
                   threshold: float) -> DataFrame:
    """Batch ids whose EXACT Jaccard (over distinct word shingle-hash
    sets) vs ANY index doc >= threshold. Both sides explode a STORED
    ``shset`` — the batch's from the feature leaf, the index's from the
    index — an inverted shingle join (candidates share >= 1 shingle),
    never all-pairs."""
    bsh = cur.select(F.col(id_col).alias("__bid"),
                     F.col("sz").alias("__bsz"),
                     F.explode("shset").alias("__h"))
    ish = index.select(F.col(id_col).alias("__iid"), F.col("sz"),
                       F.explode("shset").alias("__h"))
    common = (bsh.join(ish, "__h")
              .groupBy("__bid", "__bsz", "__iid", "sz")
              .agg(F.count(F.lit(1)).alias("__c")))
    jacc = (F.col("__c").cast("double")
            / (F.col("__bsz") + F.col("sz") - F.col("__c")))
    return (common.filter(jacc >= threshold)
            .select(F.col("__bid").alias(id_col)).distinct())


@dataclass
class _Run:
    """One dedup run: the lazy verdicts, the exact survivors' features —
    a checkpoint of (id, fp, the ``store`` signals), None when no
    near-dup stage ran — and the checkpoint leaves the verdicts read
    (release them once the verdicts are materialized)."""

    verdicts: DataFrame
    features: DataFrame | None
    store: tuple[str, ...]
    leaves: list


# the attribute of a verdict frame that carries its _Run, so commit_batch
# can append the survivors' index rows from the run's feature leaf
_RUN = "_incremental_run"


def _run_of(verdicts: DataFrame) -> _Run | None:
    return vars(verdicts).get(_RUN)


def _carrying(verdicts: DataFrame, run: _Run | None) -> DataFrame:
    setattr(verdicts, _RUN, run)
    return verdicts


def _dedup(batch: DataFrame, index: DataFrame | None, id_col: str,
           text_col: str, probe: str, threshold: float | None,
           within_batch: str) -> _Run:
    """``incremental_dedup``'s stages; see there."""
    signal = _probe_signal(probe)
    if within_batch not in ("full", "exact", "none"):
        raise ValueError(f"within_batch must be 'full', 'exact' or "
                         f"'none', got {within_batch!r}")
    wb_exact = within_batch in ("full", "exact")
    wb_neardup = within_batch == "full"
    if index is not None:
        _check_packed(index.schema)
        missing = {"fp"} - set(index.columns)
        if threshold is not None:
            missing |= set(_signal_cols(signal)) - set(index.columns)
        if missing:
            raise ValueError(
                f"index lacks columns {sorted(missing)} for probe="
                f"{probe!r} — rebuild with corpus_index(probe={probe!r})")
    cur = batch.withColumn("__fp", _fp(text_col))
    dropped: list[DataFrame] = []
    features = None
    leaves: list[DataFrame] = []

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
        if probe == "exact" and wb_neardup:
            # the within-batch exact-Jaccard pairs read the survivors'
            # text: checkpoint it so they do not re-run the fp joins
            cur = cur.localCheckpoint(eager=True)
            leaves.append(cur)
        # One pass over the exact survivors' text computes their probe
        # signal into a compact (id, fp, signal) checkpoint: the index
        # probe, the within-batch signature pairs and the commit's index
        # rows all read it, and the batch is read no more often than
        # the fp joins already read it.
        features = _features(cur, id_col, "__fp", text_col, signal)
        features = features.localCheckpoint(eager=True)
        leaves.append(features)
        live = features
    if index is not None and threshold is not None:
        hits = (_probe_jaccard(features, index, id_col, threshold)
                if probe == "exact" else
                _banded_pairs(features.select(id_col, "sig"),
                              index.select(id_col, "sig"), threshold)
                .select(F.col("id_a").alias(id_col)).distinct())
        # materialized once: the pairs below and every execution of the
        # verdicts read the hits instead of re-running the probe
        hits = hits.localCheckpoint(eager=True)
        leaves.append(hits)
        _drop(hits, "neardup_index")
        cur = cur.join(hits, id_col, "left_anti")
        live = live.join(hits, id_col, "left_anti")
    if wb_neardup and threshold is not None:
        pairs = (ngram_jaccard_pairs(cur, id_col, text_col, n=_SHINGLE_N,
                                     threshold=threshold)
                 if probe == "exact" else
                 _banded_pairs(live.select(id_col, "sig"), None, threshold))
        comp = neardup_components(pairs)
        leaves.append(comp)
        _drop(comp.filter(F.col("id") != F.col("component_id"))
              .select(F.col("id").alias(id_col)), "neardup_batch")
    if not dropped:
        verdicts = batch.withColumn("drop_reason",
                                    F.lit(None).cast("string"))
    else:
        reasons = dropped[0]
        for d in dropped[1:]:
            reasons = reasons.unionAll(d)
        verdicts = batch.join(reasons, id_col, "left")
    return _Run(verdicts, features, signal, leaves)


def _index_rows(survivors: DataFrame, run: _Run | None, id_col: str,
                text_col: str, store: tuple[str, ...]) -> DataFrame:
    """The index rows of ``survivors`` holding the ``store`` signals:
    their rows of the run's feature leaf when it holds those signals (no
    text is read), else one feature pass over their text."""
    if (run is not None and run.features is not None
            and set(store) <= set(run.store)):
        rows = run.features.join(survivors.select(id_col), id_col,
                                 "left_semi")
    else:
        rows = _features(survivors.withColumn("__fp", _fp(text_col)),
                         id_col, "__fp", text_col, store)
    return rows.select(id_col, "fp", *_signal_cols(store))


def incremental_dedup(batch: DataFrame, index: DataFrame | None,
                      id_col: str = "doc_id", text_col: str = "text", *,
                      probe: str = "exact", threshold: float | None = 0.5,
                      within_batch: str = "full") -> DataFrame:
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

    ``index=None`` probes against nothing (stages 2 and 4 only — day 1
    of a corpus, committed by ``commit_batch`` like any other day).
    ``threshold=None`` disables both near-dup stages (exact-only mode).
    ``within_batch`` selects the internal-dedup depth: ``"full"`` (both
    stages 2 and 4), ``"exact"`` (stage 2 only — skip the within-batch
    pair graph + CC when the batch's internal near-dups are handled by
    a separate X2 pass, or when probe-vs-index latency matters more),
    ``"none"`` (probe-only, for a batch already deduped upstream).

    Both probes, and the within-batch pairs, use ``operators.dedup``'s
    fixed shape (word 3-grams; for ``"minhash"``, 8 bands of 4 hashes),
    the one ``corpus_index`` and ``commit_batch`` write. An index that
    predates packed signatures (a string ``fp``, an ``array<long>``
    ``sig``) is refused with a ``ValueError`` at the call, before any
    job runs.

    When a near-dup stage runs, the exact survivors and their probe
    signal are computed once into a checkpoint that stages 3-4 read, and
    the stage-3 hits are checkpointed too. The survivors are exactly the
    docs ``commit_batch`` should merge; passed the returned frame, it
    appends their index rows from that checkpoint instead of shingling
    their text again. Idempotent re-delivery: re-probing an
    already-committed batch drops EVERY row as ``exact_index``
    (property-tested) — the storage-layer analogue of the reference's
    redelivery discipline (py:133-137)."""
    run = _dedup(batch, index, id_col, text_col, probe, threshold,
                 within_batch)
    return _carrying(run.verdicts, run)


def _stored_signals(spark, index_path: str) -> tuple[str, ...] | None:
    """The signals the index at ``index_path`` holds (None: no index);
    raises on an index that predates packed signatures."""
    fs, jpath = hadoop_fs(spark, index_path)
    if not fs.exists(jpath):
        return None
    schema = spark.read.parquet(index_path).schema
    _check_packed(schema)
    return tuple(s for s, c in _SIGNAL_COLS.items()
                 if c[0] in schema.fieldNames())


def commit_batch(spark, verdicts: DataFrame, corpus_path: str,
                 index_path: str, id_col: str = "doc_id",
                 text_col: str = "text") -> int:
    """Commit a batch: merge its survivors into the corpus (merge_upsert
    — idempotent under re-delivery) and APPEND their index rows. Returns
    the merged corpus row count. The index append writes |survivors|
    rows; nothing existing is rewritten. Every batch commits this way,
    the first one included: with no corpus yet, the merge writes the
    survivors, and the append creates the index.

    The appended rows hold exactly the signals the persisted index holds
    (an index written with both signals keeps getting both), so one
    index directory never mixes two schemas. With no index at
    ``index_path`` yet, they hold the signal the run's probe reads, so
    ``verdicts`` must then be ``incremental_dedup``'s own frame: any
    other frame raises ``ValueError`` before anything is written, as
    does an index that predates packed signatures (a string ``fp`` or
    ``array<long>`` ``sig``; rebuild it with ``corpus_index``). Given
    ``incremental_dedup``'s own frame, the rows come from its feature
    checkpoint; any other frame is shingled from its text."""
    from serverless_data_pipeline_spark.sources.writers import merge_upsert
    run = _run_of(verdicts)
    store = _stored_signals(spark, index_path)
    if store is None:
        if run is None:
            raise ValueError(
                f"no index at {index_path}, and the verdicts are not "
                f"incremental_dedup's own frame, so the probe signal a "
                f"new index should store is unknown")
        store = run.store
    survivors = verdicts.filter(F.col("drop_reason").isNull()) \
        .drop("drop_reason")
    n = merge_upsert(spark, corpus_path, survivors, keys=[id_col])
    _index_rows(survivors, run, id_col, text_col,
                store).write.mode("append").parquet(index_path)
    return n


def maintenance_stream(spark, landing_path: str, schema,
                       corpus_path: str, index_path: str,
                       checkpoint: str, *, fmt: str = "json",
                       id_col: str = "doc_id", text_col: str = "text",
                       probe: str = "exact",
                       threshold: float | None = 0.5,
                       verdict_path: str | None = None,
                       available_now: bool = True,
                       interval_s: float = 3600.0,
                       max_files_per_tick: int | None = None):
    """The daily-operations loop as ONE streaming query: S9's scheduled
    incremental tick driving the incremental-dedup commit protocol.

    Each tick's micro-batch is exactly the files landed since the last
    tick (checkpointed file source — restart-safe, never re-reads old
    landings). Every tick runs the same two steps: it probes the
    PERSISTED index (`incremental_dedup` with every within-batch stage;
    corpus text is never rescanned, and before the first commit there is
    no index, so the batch is only deduped internally), then merges the
    survivors and appends their index rows (`commit_batch` — merge_upsert
    keyed on ``id_col``, so the at-least-once foreachBatch contract is
    safe: a re-delivered tick re-drops everything as `exact_index` and
    merges nothing new). Optionally appends a per-tick verdict audit log (id,
    drop_reason, tick_id) to ``verdict_path`` — the ops trail of WHY
    each landed doc was kept or dropped.

    The first commit builds the index with the signal ``probe`` reads
    (``sig`` for ``"minhash"``, ``shset``/``sz`` for ``"exact"``); later
    ticks append whatever the existing index holds, so an index written
    with both signals keeps working unchanged. Switching ``probe`` later
    needs an index that holds the new probe's signal (rebuild it with
    ``corpus_index``).

    A tick shingles each landed doc that survives the exact stages once:
    the index probe, the within-batch pairs and the index append all
    read one feature checkpoint, and the tick releases every checkpoint
    it took before it returns, so a long-running stream holds no storage
    between ticks.

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

    def _tick(batch_df, tick_id: int) -> None:
        if batch_df.isEmpty():
            return
        fs, jpath = hadoop_fs(spark, index_path)
        idx = spark.read.parquet(index_path) if fs.exists(jpath) else None
        found = incremental_dedup(batch_df, idx, id_col, text_col,
                                  probe=probe, threshold=threshold)
        run = _run_of(found)
        # audit log must see the same verdicts commit acts on, not
        # recompute them against a by-then-mutated index
        verdicts = _carrying(found.localCheckpoint(eager=True), run)
        commit_batch(spark, verdicts, corpus_path, index_path, id_col,
                     text_col)
        if verdict_path is not None:
            (verdicts.select(F.col(id_col), F.col("drop_reason"),
                             F.lit(tick_id).alias("tick_id"))
             .write.mode("append").parquet(verdict_path))
        for leaf in [verdicts, *run.leaves]:
            release_checkpoint(leaf)

    return scheduled_batch_query(
        spark, landing_path, schema, _tick, checkpoint,
        interval_s=interval_s, fmt=fmt, available_now=available_now,
        max_files_per_tick=max_files_per_tick)
