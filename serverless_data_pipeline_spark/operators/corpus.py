"""Training-corpus utilities (charter extension X8).

The batch plumbing every LLM pretraining data pipeline needs between
"clean corpus" and "training shards": deterministic train/eval splits,
vocabulary builds, and token-budget sequence packing. All three are
single-shuffle DataFrame plans — no Python in the row path, so they run
unchanged against a 100 TB `documents` table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_data_pipeline_spark.functions.text import (
    fingerprint, shingles_from_tokens, token_count, tokens,
)

__all__ = ["train_test_split", "leakage_safe_split", "vocabulary",
           "corpus_datasheet",
           "pack_sequences", "pack_token_blocks",
           "resume_token_blocks", "unpack_token_blocks",
           "block_positions", "block_loss_mask", "reshuffle_blocks",
           "packing_stream", "commit_packed_batch",
           "latest_packed_state",
           "corpus_mix", "temperature_mix",
           "chunk_documents", "decontaminate", "contamination_report",
           "shingle_bloom", "bloom_decontaminate", "segment_dedup",
           "passage_dedup", "global_shuffle",
           "hex_prefix_long_sql", "token_budget_mix",
           "repeat_by_epochs"]


def train_test_split(df: DataFrame, id_col: str,
                     n_splits: int = 10, train_cutoff: int = 8,
                     hashed: bool = True, seed: int = 42) -> DataFrame:
    """Deterministic, reproducible split assignment: every row gets a
    stable ``split_id`` in [0, n_splits) and a ``split`` label ("train"
    below the cutoff, "eval" at or above).

    ``hashed=True`` (production default) buckets on ``xxhash64(id, seed)``
    — an avalanche hash, so sequential or block-allocated ids spread
    uniformly and re-running on a grown corpus never reassigns an existing
    id. ``hashed=False`` buckets on the raw id modulo ``n_splits``
    (engine-portable arithmetic; the DuckDB oracle uses this mode).
    Narrow projection only: no shuffle, no sampling nondeterminism —
    unlike ``randomSplit``, which reshuffles membership when partitioning
    changes."""
    basis = (F.xxhash64(F.col(id_col), F.lit(seed)) if hashed
             else F.col(id_col))
    split_id = F.pmod(basis, F.lit(n_splits)).cast("int")
    return (df.withColumn("split_id", split_id)
              .withColumn("split",
                          F.when(F.col("split_id") < train_cutoff, "train")
                           .otherwise("eval")))


def leakage_safe_split(df: DataFrame, id_col: str,
                       text_col: str | None = None,
                       group_col: str | None = None,
                       n_splits: int = 10, train_cutoff: int = 8,
                       hashed: bool = True, seed: int = 42) -> DataFrame:
    """Train/eval split that assigns by duplicate GROUP, not by row —
    every member of a group lands in the same split, so a document and
    its (near-)duplicates can never straddle the train/eval boundary.
    Splitting a deduplicatable corpus row-wise leaks: the copy in train
    memorizes the copy in eval, and eval loss under-reports (the
    failure mode the dedup literature calls out — Lee et al. 2022 §6
    measure exactly this train/test overlap effect).

    Pass exactly one of:
    * ``text_col`` — groups are EXACT-duplicate classes under the
      repo's canonical ``fingerprint()`` (md5 of case/whitespace-
      normalized text — the SAME dup definition X1/X7 dedup with, so
      a pair X1 would merge can never straddle the split); the group
      key is the class's canonical ``min(id)``.
    * ``group_col`` — a caller-supplied group key, e.g.
      ``component_id`` from ``neardup_components`` (near-dup-safe
      split) or a url-host/source id (domain-held-out split). Rows
      whose group key is NULL — e.g. the non-duplicated majority
      after a LEFT join of components — fall back to their own
      ``id_col`` as a singleton group, so they split normally instead
      of collapsing into one NULL bucket. The frame already carries
      the grouping, so this path adds NO shuffle — a narrow
      projection exactly like ``train_test_split`` (portable
      ``hashed=False`` mode needs a numeric key, as there). In
      hashed mode the split bucket is derived from a sentinel-tagged
      basis (``"g:"+group`` vs ``"i:"+id``), so an id that happens to
      equal a real group's value can never couple the singleton's
      split to that group. Portable mode keeps its basis numeric for
      the raw modulo, so the tag is PARITY instead: groups take the
      bucket of ``2*pmod(group, 2^62)``, singletons of
      ``2*pmod(id, 2^62) + 1`` — disjoint domains, so the same
      collision cannot occur there either (the inner pmod keeps the
      doubling inside BIGINT: under ANSI mode a raw ``2*key`` would
      overflow-abort on any full-range 64-bit key). Proportions are
      preserved only when BOTH ``n_splits`` and ``train_cutoff`` are
      even (each parity class then holds ``train_cutoff/2`` of its
      ``n_splits/2`` residues — the default 8/10 qualifies); odd
      values would silently give duplicated and unique docs different
      train rates, so portable group mode REJECTS them (use hashed
      mode, which has no parity structure). The returned ``group_key``
      column itself always shows the untagged ``coalesce(group, id)``
      value either way.

    Split assignment reuses ``train_test_split``'s rule on the group
    key (xxhash64 when ``hashed``, portable raw modulo otherwise), so
    membership is deterministic, stable under corpus growth, and
    engine-portable in the oracle mode. Returns ``df`` plus
    ``group_key``, ``split_id``, ``split``.

    Scale shape (``text_col`` mode): one fingerprint-grain groupBy (one
    row per DISTINCT text, map-side combinable min) + one join of the
    corpus against that canonical map — the same two-shuffle shape as
    X1 exact dedup, linear in corpus size. No Python in the row path."""
    if (text_col is None) == (group_col is None):
        raise ValueError("pass exactly one of text_col / group_col")
    if group_col is not None:
        # NULL group -> the row is its own singleton group (keyed by
        # id). Without the fallback, pmod(NULL) sends every ungrouped
        # row to 'eval' in portable mode, and xxhash64(NULL, seed) is
        # one constant in hashed mode — either way the split of the
        # (usually vast) non-duplicated majority would silently break.
        # The id fallback is cast to the GROUP column's type: a bare
        # coalesce(string_group, long_id) makes ANSI type coercion cast
        # the string side to a number, which throws on 'src5'-style keys.
        gtype = dict(df.dtypes).get(group_col)
        fallback = (F.col(id_col).cast(gtype) if gtype
                    else F.col(id_col))
        keyed = df.withColumn(
            "group_key", F.coalesce(F.col(group_col), fallback))
        if hashed:
            # Collision-proof split basis (r6 ADVICE): hash a
            # sentinel-tagged string, not group_key itself, so a doc
            # id that collides with a real group VALUE (string source
            # literally named '7' vs doc_id 7, or a narrower numeric
            # group type truncating the id) cannot silently couple a
            # singleton's split assignment to that group's.
            basis = (F.when(F.col(group_col).isNotNull(),
                            F.concat(F.lit("g:"),
                                     F.col(group_col).cast("string")))
                      .otherwise(F.concat(F.lit("i:"),
                                          F.col(id_col).cast("string"))))
            out = train_test_split(keyed.withColumn("__basis", basis),
                                   "__basis", n_splits=n_splits,
                                   train_cutoff=train_cutoff,
                                   hashed=True, seed=seed)
            return out.drop("__basis")
        # portable mode: the basis must stay numeric for the raw
        # modulo, so the collision tag is PARITY — groups bucket from
        # 2*pmod(group, 2^62), singletons from 2*pmod(id, 2^62) + 1
        # (disjoint domains; the inner pmod keeps the doubling inside
        # BIGINT — see docstring, incl. the even-splits precondition)
        if n_splits % 2 or train_cutoff % 2:
            raise ValueError(
                "portable (hashed=False) group_col mode needs even "
                "n_splits and train_cutoff (parity-tagged basis); "
                "use hashed=True for odd split geometries")
        half = F.lit(2 ** 62).cast("long")
        basis = (F.when(F.col(group_col).isNotNull(),
                        F.pmod(F.col(group_col).cast("long"), half) * 2)
                  .otherwise(
                      F.pmod(F.col(id_col).cast("long"), half) * 2 + 1))
        out = train_test_split(keyed.withColumn("__basis", basis),
                               "__basis", n_splits=n_splits,
                               train_cutoff=train_cutoff,
                               hashed=False, seed=seed)
        return out.drop("__basis")
    else:
        # NULL-text docs get a sentinel fingerprint (one shared group):
        # fingerprint(NULL) is NULL, and a NULL join key never
        # equi-matches — without the coalesce every NULL-text row would
        # silently VANISH from the split.
        fp = F.coalesce(fingerprint(text_col),
                        F.lit("__null_text__")).alias("__gfp")
        canon = (df.select(fp, F.col(id_col))
                   .groupBy("__gfp")
                   .agg(F.min(id_col).alias("group_key")))
        keyed = (df.withColumn("__gfp", fp)
                   .join(canon, "__gfp").drop("__gfp"))
    out = train_test_split(keyed, "group_key", n_splits=n_splits,
                           train_cutoff=train_cutoff, hashed=hashed,
                           seed=seed)
    return out


def corpus_mix(df: DataFrame, group_col: str, id_col: str,
               weights: dict[str, float]) -> DataFrame:
    """Weighted corpus mixing: downsample each group (language, source,
    domain...) to a target fraction, the way pretraining mixtures rebalance
    a crawl (e.g. cap boilerplate-heavy sources, upweight rare languages by
    keeping 100 % of them). Keeps ``ceil(frac * n_group)`` rows per group;
    groups absent from ``weights`` are dropped (an explicit mixture is a
    whitelist).

    Deterministic and engine-portable: rows are ranked inside each group by
    ``md5(id)`` — a stable avalanche ordering, so the kept subset is a
    uniform pseudo-random sample that never changes across runs, partition
    layouts, or engines (unlike ``sample()``/``rand()``, whose membership
    depends on partitioning). Plan: one shuffle (the per-group window) plus
    a broadcast of the tiny weights table; no Python in the row path, so
    the same plan runs on a 100 TB corpus."""
    spark = df.sparkSession
    wdf = spark.createDataFrame(list(weights.items()),
                                f"{group_col} string, __frac double")
    order = F.md5(F.col(id_col).cast("string"))
    w_rank = Window.partitionBy(group_col).orderBy(order, id_col)
    w_grp = Window.partitionBy(group_col)
    ranked = (df.join(F.broadcast(wdf), group_col)
                .withColumn("sample_rank", F.row_number().over(w_rank))
                .withColumn("__quota",
                            F.ceil(F.col("__frac")
                                   * F.count("*").over(w_grp))))
    return (ranked.filter(F.col("sample_rank") <= F.col("__quota"))
                  .drop("__frac", "__quota"))


def temperature_mix(df: DataFrame, group_col: str, id_col: str,
                    alpha: float = 0.3,
                    target_rows: int | None = None) -> DataFrame:
    """Temperature-based (alpha-sampling) corpus mixing: rebalance group
    sizes toward ``p_g ∝ (n_g / N) ^ alpha`` — the standard multilingual
    pretraining rule (mC4 / XLM-R use alpha ≈ 0.3): ``alpha = 1`` keeps
    the natural distribution, ``alpha = 0`` flattens to uniform, and
    values in between upweight rare languages without drowning the head.
    ``corpus_mix`` takes an EXPLICIT per-group fraction; this derives the
    fractions from the data itself, capped at keeping a group whole
    (quota ``min(n_g, ceil(p_g * target))``; ``target_rows`` defaults to
    the corpus size N, so head groups shrink to fund the renormalized
    tail).

    Deterministic and engine-portable like ``corpus_mix``: per-group
    quota from exact counts + the temperature formula (rounded to 6
    decimals before the ceil so cross-engine pow jitter in the last ulp
    cannot flip a boundary, then floored at 1 so the every-group-keeps-
    >=1-row law holds even for tiny explicit ``target_rows``, where the
    rounding guard could otherwise zero a group whose raw quota is
    below 5e-7), membership by md5-ranked ids. Returns the
    kept rows + ``sample_rank`` and the group ``quota``. Rows whose
    ``group_col`` is NULL are dropped (no mixture weight is definable
    for an unlabeled row — same whitelist stance as ``corpus_mix``;
    coalesce to an explicit "unknown" label first to keep them).

    Scale shape: group sizes are ONE tiny aggregate (|groups| rows —
    languages/domains number in the hundreds) cross-joined back as a
    broadcast scalar map; the only corpus-scale shuffle is the per-group
    ranking window, same as ``corpus_mix``. No Python in the row path."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    sizes = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # totals via an all-rows window over the tiny sizes frame (|groups|
    # rows — languages/domains number in the hundreds): no self-join, no
    # second aggregate job.
    w_all = Window.partitionBy()
    wsum = F.sum(F.pow(F.col("__n").cast("double"),
                       F.lit(float(alpha)))).over(w_all)
    quota = (sizes
             .withColumn("__target",
                         F.lit(target_rows).cast("double")
                         if target_rows is not None
                         else F.sum("__n").over(w_all).cast("double"))
             .withColumn("__p",
                         F.pow(F.col("__n").cast("double"),
                               F.lit(float(alpha))) / wsum)
             .withColumn("quota",
                         F.least(
                             F.col("__n"),
                             F.greatest(
                                 F.lit(1).cast("long"),
                                 F.ceil(F.round(F.col("__p")
                                                * F.col("__target"),
                                                6)))).cast("long"))
             .select(group_col, "quota"))
    order = F.md5(F.col(id_col).cast("string"))
    w_rank = Window.partitionBy(group_col).orderBy(order, id_col)
    return (df.join(F.broadcast(quota), group_col)
            .withColumn("sample_rank", F.row_number().over(w_rank))
            .filter(F.col("sample_rank") <= F.col("quota")))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_chars: int = 512,
                    overlap_chars: int = 64) -> DataFrame:
    """Split documents into fixed-size character windows with overlap —
    the chunking step in front of embedding/retrieval indexes and
    context-window-bounded training. Returns (id, chunk_id, chunk_start,
    chunk_text); chunk_start is 1-based, stride = chunk - overlap, and
    the final chunk is the (possibly short) remainder so every character
    belongs to >= 1 chunk.

    Pure higher-order SQL: `sequence` generates the start offsets,
    `posexplode` fans them out, `substring` slices — a narrow explode
    with no shuffle and no Python, so a 100 TB corpus chunks at scan
    speed and the expansion factor is exactly len/stride."""
    if overlap_chars >= chunk_chars:
        raise ValueError("overlap_chars must be < chunk_chars")
    stride = chunk_chars - overlap_chars
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.length(text_col).cast("int")),
        F.lit(stride))
    return (df.select(F.col(id_col), F.col(text_col),
                      F.posexplode(starts).alias("chunk_id", "chunk_start"))
              .select(id_col, "chunk_id", "chunk_start",
                      F.col(text_col).substr(
                          F.col("chunk_start"),
                          F.lit(chunk_chars)).alias("chunk_text")))


def vocabulary(df: DataFrame, text_col: str,
               top_n: int = 1000, min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: (token, n) for the ``top_n`` most frequent
    tokens, ties broken lexicographically. Explode → groupBy(token) is one
    shuffle with map-side partial counts; the top-n plans as
    TakeOrderedAndProject (O(top_n) per task, no global sort)."""
    tok = df.select(F.explode(tokens(text_col)).alias("token"))
    counts = (tok.groupBy("token").agg(F.count("*").alias("n"))
                 .filter(F.col("n") >= min_count))
    return counts.orderBy(F.col("n").desc(), "token").limit(top_n)


def pack_sequences(df: DataFrame, id_col: str, text_col: str,
                   budget: int = 2048, n_shards: int = 8) -> DataFrame:
    """Token-budget sequence packing: concatenate documents (in id order)
    into a contiguous token stream per shard and chunk the stream every
    ``budget`` tokens — ``bin_id`` is the chunk containing the document's
    START offset, the way pretraining concatenates-then-chunks. Returns
    (id, n_tokens, shard, bin_id).

    Sharding is the scale lever: a single global cumulative sum would
    serialize on one window partition, so documents are first bucketed
    into ``n_shards`` deterministic shards (id mod n_shards) and the
    running sum is per-shard — n_shards independent window partitions,
    sized so one shard's stream fits an executor. One shuffle (the window
    partitionBy)."""
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(id_col)
    return (df.select(F.col(id_col),
                      token_count(text_col).alias("n_tokens"),
                      shard.alias("shard"))
              .withColumn("__cum", F.sum("n_tokens").over(w))
              .select(F.col(id_col), "n_tokens", "shard",
                      # exact integer division (`div`), not float `/`
                      # + floor: Spark's `/` on longs is double-valued
                      # and would misassign bins once per-shard streams
                      # approach 2^53 tokens (r10 ADVICE)
                      F.expr(f"(__cum - n_tokens) div {int(budget)}")
                       .cast("long").alias("bin_id")))


def pack_bins(df: DataFrame, id_col: str, text_col: str | None,
              budget: int = 2048, n_shards: int = 8,
              strategy: str = "next_fit", *,
              weight_col: str | None = None) -> DataFrame:
    """Document-boundary-preserving sequence packing (the SFT/finetune
    regime: unlike ``pack_sequences``' concat-then-chunk, a document
    NEVER splits across training sequences, so each bin is padded up to
    ``budget`` and the packer's job is to minimize that padding).
    Returns (id, n_tokens, shard, bin_id, bin_offset); bin ids are
    per-shard, and ``bin_offset`` is the document's token START inside
    its padded bin with documents laid out in id order (both
    strategies) — the boundary metadata a trainer needs to build
    attention masks over packed sequences.

    Strategies:

    - ``next_fit`` (default): documents in id order per shard; close
      the bin when the next document would overflow. Deterministic
      LINEAR-RECURSION semantics — exactly expressible as an ordered
      recursive CTE, so the whole assignment is cross-engine
      value-checkable (the x8 registry arm runs it against DuckDB).
    - ``first_fit_dec``: classic First-Fit-Decreasing (sort by
      (n_tokens desc, id), place each doc in the lowest-indexed bin
      with room) — within 11/9·OPT + 6/9 bins of optimal (Dósa 2007),
      the padding-minimizing choice when training order is free.

    A document longer than ``budget`` ends up in a bin of its own under
    both strategies (nothing else fits beside it) — callers route those
    to truncation or ``chunk_documents`` rather than the packer failing.

    Scale shape: packing is inherently sequential state, so the honest
    implementation is one per-shard pass — ``groupBy(shard)
    .applyInPandas`` (Arrow-batched, one hash exchange on the shard
    key), with ``n_shards`` the same memory lever as pack_sequences:
    size shards so one shard's (id, n_tokens) frame — two longs per
    doc, NOT the text — fits an executor. The FFD inner loop is
    O(docs x open bins) per shard; at sane budgets open bins stay
    proportional to docs/bin-capacity."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if strategy not in ("next_fit", "first_fit_dec"):
        raise ValueError("strategy must be next_fit or first_fit_dec")
    if (text_col is None) == (weight_col is None):
        raise ValueError("exactly one of text_col / weight_col required")
    # weight_col: pack by an already-computed token count (e.g. REAL
    # tokenizer ids from bpe_encode_ids) instead of the text proxy
    weight = (token_count(text_col) if weight_col is None
              else F.col(weight_col).cast("long"))
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        weight.alias("n_tokens"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"))
    b, ffd = budget, strategy == "first_fit_dec"

    def pack(pdf):
        if ffd:
            pdf = pdf.sort_values(["n_tokens", "id"],
                                  ascending=[False, True])
            fills: list[int] = []
            out = []
            for n in pdf["n_tokens"]:
                placed = -1
                for i, f in enumerate(fills):
                    if f + n <= b:
                        placed = i
                        fills[i] += n
                        break
                if placed < 0:
                    fills.append(int(n))
                    placed = len(fills) - 1
                out.append(placed)
        else:
            pdf = pdf.sort_values("id")
            cur, fill = 0, 0
            out = []
            for n in pdf["n_tokens"]:
                if fill > 0 and fill + n > b:
                    cur, fill = cur + 1, 0
                fill += int(n)
                out.append(cur)
        return pdf.assign(bin_id=out)[
            ["id", "n_tokens", "shard", "bin_id"]]

    w = (Window.partitionBy("shard", "bin_id").orderBy("id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (base.groupBy("shard")
            .applyInPandas(pack, "id long, n_tokens long, shard int, "
                                 "bin_id long")
            .withColumn("bin_offset",
                        F.coalesce(F.sum("n_tokens").over(w),
                                   F.lit(0).cast("long")))
            .withColumnRenamed("id", id_col))


def pack_token_blocks(df: DataFrame, id_col: str, ids_col: str, *,
                      block_len: int = 2048,
                      eos_id: int | None = None,
                      n_shards: int = 8,
                      drop_last: bool = True,
                      pad_id: int | None = None,
                      order_by: str | None = None,
                      shard_col: str | None = None,
                      out_col: str = "ids",
                      spans_col: str = "doc_spans") -> DataFrame:
    """Emit the ACTUAL packed pretraining blocks: concatenate each
    shard's token-id streams (in id order, ``eos_id`` appended per
    document when given — the GPT-2 concat-with-EOS discipline) and
    chunk the stream every ``block_len`` ids. This is the step after
    ``bpe_encode_ids`` that produces what a trainer memory-maps:
    ``pack_sequences`` assigns each document a bin NUMBER from a
    text-proxy count; this materializes the blocks themselves from the
    real ids. Returns one row per block:

    - ``shard`` / ``block_id`` — per-shard block index (block 0 starts
      at the shard's first id);
    - ``out_col`` — array<int> of exactly ``block_len`` ids (the last,
      shorter block per shard is dropped when ``drop_last``, kept
      as-is otherwise, and right-padded with ``pad_id`` up to
      ``block_len`` when that is given);
    - ``spans_col`` — array<struct<start,len,doc_id>> in block order:
      which document supplied ids [start, start+len) of the block (a
      document crossing a boundary contributes a span to each block it
      touches) — the metadata a trainer needs to build block-diagonal
      attention masks and to trace any training sequence back to its
      source documents.

    Scale shape (the pack_bins discipline, applied end-to-end): the
    sequential state — each document's start offset in its shard's
    stream — is a window cumulative sum over TWO LONGS per doc
    (id, n_ids); the id arrays never enter the window sort. The arrays
    then move through one co-keyed hash join (doc grain) and one
    groupBy((shard, block)) whose keys are fine-grained by
    construction (~stream/block_len groups per shard), so no task ever
    holds more than a handful of blocks; the boundary slicing is
    in-expression (`slice`/`flatten`), never a token-grain shuffle or
    Python. ``n_shards`` is the same memory lever as pack_sequences:
    size it so one shard's (id, n) frame fits an executor. NOTE: the
    offsets frame and the arrays frame both descend from ``df``, so an
    expensive upstream (a tokenizer encode) should be cached or
    checkpointed by the caller before packing.

    Documents with zero ids (and no ``eos_id``) occupy no stream
    positions and are skipped; with ``eos_id`` they still contribute
    their EOS, so decode-side document accounting stays exact.

    ``order_by`` / ``shard_col`` (r10) — pack in TRAINING order, not
    id order: real pipelines shuffle before packing so no block is a
    run of same-source documents. Pass ``global_shuffle``'s outputs
    (``shard_col="shard"``, ``order_by="pos"``) and the block stream
    replays the exact seeded training order; ``order_by`` ties break
    on the id, so the layout stays deterministic for any column."""
    if block_len < 1:
        raise ValueError("block_len must be >= 1")
    if drop_last and pad_id is not None:
        raise ValueError("pad_id only applies when drop_last=False")
    L = block_len
    # NULL id arrays normalize to empty FIRST: concat(NULL, [eos])
    # would be NULL and the doc would silently vanish instead of
    # contributing its EOS (the exact-accounting guarantee above)
    ids0 = F.coalesce(F.col(ids_col).cast("array<int>"),
                      F.array().cast("array<int>"))
    with_eos = (ids0 if eos_id is None
                else F.concat(ids0,
                              F.array(F.lit(int(eos_id)).cast("int"))))
    # the id keeps its native type (a composed string key like
    # "doc_id:epoch" is a legal packing key with shard_col/order_by);
    # only the DERIVED pmod sharding needs a numeric id
    shard = (F.col(shard_col) if shard_col
             else F.pmod(F.col(id_col), F.lit(n_shards)))
    ordc = ([F.col(order_by).alias("__ord")] if order_by else [])
    base = df.select(
        F.col(id_col).alias("__id"),
        with_eos.alias("__ids"),
        shard.cast("int").alias("shard"), *ordc)
    counts = (base.select("__id", "shard", F.size("__ids").alias("__n"),
                          *(["__ord"] if order_by else []))
              .filter(F.col("__n") > 0))
    w = Window.partitionBy("shard").orderBy(
        *(["__ord"] if order_by else []), "__id")
    offs = (counts
            .withColumn("__end", F.sum("__n").over(w).cast("long"))
            .withColumn("__s", F.col("__end") - F.col("__n")))
    j = offs.join(base.select("__id", "__ids"), "__id")
    part = _block_parts(j, L)
    out = _assemble_blocks(part, out_col, spans_col)
    if drop_last:
        return out.filter(F.size(out_col) == L)
    if pad_id is not None:
        out = out.withColumn(
            out_col,
            F.concat(F.col(out_col),
                     F.array_repeat(F.lit(int(pad_id)).cast("int"),
                                    L - F.size(out_col))))
    return out


def _block_parts(j: DataFrame, L: int) -> DataFrame:
    """(shard, __id, __ids, __s, __end) doc rows -> one
    (shard, block_id, __p) row per block the doc intersects, where
    __p = struct(start-in-block, len, doc_id, piece)."""
    gstart = F.greatest(F.col("block_id") * L, F.col("__s"))
    gend = F.least((F.col("block_id") + 1) * L, F.col("__end"))
    return (j.select(
                "shard", "__id", "__ids", "__s", "__end",
                # exact integer `div`, not float `/` + floor: double
                # division misassigns a block once a shard's stream
                # nears 2^53 ids, breaking the exact-replay guarantee
                # (r10 ADVICE)
                F.explode(F.sequence(
                    F.expr(f"__s div {int(L)}").cast("long"),
                    F.expr(f"(__end - 1) div {int(L)}").cast("long")))
                .alias("block_id"))
            .select(
                "shard", "block_id",
                F.struct(
                    (gstart - F.col("block_id") * L).cast("int")
                    .alias("start"),
                    (gend - gstart).cast("int").alias("len"),
                    F.col("__id").alias("doc_id"),
                    F.slice("__ids",
                            (gstart - F.col("__s") + 1).cast("int"),
                            (gend - gstart).cast("int")).alias("piece"))
                .alias("__p")))


def _assemble_blocks(part: DataFrame, out_col: str,
                     spans_col: str) -> DataFrame:
    grp = (part.groupBy("shard", "block_id")
           .agg(F.array_sort(F.collect_list("__p")).alias("__parts")))
    return grp.select(
        "shard", F.col("block_id").cast("long").alias("block_id"),
        F.flatten(F.transform("__parts", lambda p: p["piece"]))
        .alias(out_col),
        F.transform("__parts", lambda p: F.struct(
            p["start"].alias("start"), p["len"].alias("len"),
            p["doc_id"].alias("doc_id"))).alias(spans_col))


def _validate_packed_tail(shard, block_id, ids, spans, L: int) -> None:
    """The resume contract check on ONE tail row: unpadded, at most one
    block long, spans covering the ids exactly."""
    if (ids is None or spans is None or len(ids) > L
            or len(ids) != sum(s["len"] for s in spans)):
        raise ValueError(
            f"state tail block (shard={shard}, "
            f"block={block_id}) is padded, oversized or "
            "carries NULL ids/spans — resume needs the "
            "drop_last=False, pad_id=None state")


def _collect_packed_tails(state: DataFrame, out_col: str,
                          spans_col: str, L: int) -> list[tuple]:
    """ONE pass over a packed state: per-shard argmax on block_id.
    max_by ids/spans under the same agg so the tail block's payload
    rides the one aggregation instead of a join back onto state, and
    the same pass carries a duplicate-at-tail detector (r11 ADVICE):
    a corrupt state with TWO DISTINCT rows at a shard's max block_id
    previously let max_by pick an arbitrary survivor that could pass
    tail validation — the max/min payload-hash pair at the max
    block_id exposes the conflict and raises instead. (Bit-identical
    duplicate rows are indistinguishable by construction — the read
    path's merge-on-read dedups those per (shard, block_id).)

    Returns validated [(shard, block_id, ids, spans), ...]."""
    h = F.xxhash64(F.col(out_col), F.col(spans_col))
    rows = (state.groupBy("shard")
            .agg(F.max("block_id").alias("block_id"),
                 F.max_by(F.col(out_col),
                          F.struct(F.col("block_id"), h.alias("h")))
                  .alias("__tids"),
                 F.max_by(F.col(spans_col),
                          F.struct(F.col("block_id"), h.alias("h")))
                  .alias("__tspans"),
                 F.max(F.struct(F.col("block_id").alias("b"),
                                h.alias("h"))).alias("__hi"),
                 F.min(F.struct((-F.col("block_id")).alias("nb"),
                                h.alias("h"))).alias("__lo"))
            .collect())
    out = []
    for r in rows:
        if r["__hi"]["h"] != r["__lo"]["h"]:
            raise ValueError(
                f"corrupt packed state: shard {r['shard']} carries "
                f"multiple distinct rows at its tail block "
                f"{r['block_id']} — a resume from an arbitrary "
                "survivor would silently drop tokens; rebuild the "
                "state (or read it through latest_packed_state, "
                "which dedups per (shard, block_id) by version)")
        _validate_packed_tail(r["shard"], r["block_id"], r["__tids"],
                              r["__tspans"], L)
        out.append((int(r["shard"]), int(r["block_id"]),
                    r["__tids"], r["__tspans"]))
    return out


def _resume_from_tails(spark, tails: list[tuple], span_doc_type,
                       df: DataFrame, id_col: str, ids_col: str, *,
                       block_len: int, eos_id: int | None,
                       n_shards: int, order_by: str | None,
                       shard_col: str | None, out_col: str = "ids",
                       spans_col: str = "doc_spans") -> DataFrame:
    """The distributed half of ``resume_token_blocks``, taking the
    |shards| tail rows as a LOCAL list — so the caller chooses where
    they come from: the one-pass state scan (`_collect_packed_tails`)
    or a tail-manifest sidecar (`commit_packed_batch`, r12) that makes
    an ordinary packing tick O(batch) read end to end. Everything
    distributed here touches the NEW batch only."""
    L = block_len
    prior = spark.createDataFrame(
        [(int(s), int(b) * L + len(ids))
         for s, b, ids, _spans in tails] or [],
        "__ps int, __prior long")
    ids0 = F.coalesce(F.col(ids_col).cast("array<int>"),
                      F.array().cast("array<int>"))
    with_eos = (ids0 if eos_id is None
                else F.concat(ids0,
                              F.array(F.lit(int(eos_id)).cast("int"))))
    shard = (F.col(shard_col) if shard_col
             else F.pmod(F.col(id_col), F.lit(n_shards)))
    ordc = ([F.col(order_by).alias("__ord")] if order_by else [])
    base = df.select(
        F.col(id_col).alias("__id"),
        with_eos.alias("__ids"),
        shard.cast("int").alias("shard"), *ordc)
    counts = (base.select("__id", "shard", F.size("__ids").alias("__n"),
                          *(["__ord"] if order_by else []))
              .filter(F.col("__n") > 0))
    w = Window.partitionBy("shard").orderBy(
        *(["__ord"] if order_by else []), "__id")
    offs = (counts
            .withColumn("__cum", F.sum("__n").over(w).cast("long"))
            .join(F.broadcast(prior),
                  F.col("shard") == F.col("__ps"), "left")
            .withColumn("__end", F.coalesce("__prior", F.lit(0))
                        + F.col("__cum"))
            .withColumn("__s", F.col("__end") - F.col("__n")))
    j = offs.join(base.select("__id", "__ids"), "__id")
    newparts = _block_parts(j, L)
    # the re-emitted tail spans come from the already-local tail rows
    # (no second state scan); the doc-id type is whatever the state's
    # span structs carry, so the local frame reuses it
    part_schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("block_id", T.LongType()),
        T.StructField("__p", T.StructType([
            T.StructField("start", T.IntegerType()),
            T.StructField("len", T.IntegerType()),
            T.StructField("doc_id", span_doc_type),
            T.StructField("piece", T.ArrayType(T.IntegerType())),
        ])),
    ])
    tailparts = spark.createDataFrame(
        [(int(s), int(b),
          (int(sp["start"]), int(sp["len"]), sp["doc_id"],
           list(ids[sp["start"]:sp["start"] + sp["len"]])))
         for s, b, ids, spans in tails for sp in spans] or [],
        part_schema)
    return _assemble_blocks(newparts.unionByName(tailparts),
                            out_col, spans_col)


def resume_token_blocks(state: DataFrame, df: DataFrame,
                        id_col: str, ids_col: str, *,
                        block_len: int = 2048,
                        eos_id: int | None = None,
                        n_shards: int = 8,
                        order_by: str | None = None,
                        shard_col: str | None = None,
                        out_col: str = "ids",
                        spans_col: str = "doc_spans") -> DataFrame:
    """INCREMENTAL packing — append a newly-landed batch to an
    existing packed state without repacking the corpus (the X7
    incremental-maintenance discipline applied to the packing
    artifact: a daily batch must not re-read 100 TB of blocks).
    ``state`` is the prior ``pack_token_blocks(..., drop_last=False,
    pad_id=None)`` output (tail blocks present and unpadded — both
    validated on the |shards| tail rows); ``df`` is the new batch,
    packed with the SAME block_len/eos_id/shard discipline. New
    documents must sort AFTER the packed ones within their shard
    (append-only batches with increasing ids/positions — the same
    contract as the X7 index: commit batches in order).

    Returns only the CHANGED + NEW rows: each shard's tail block
    re-emitted with the new stream merged in (unchanged when the
    shard got no new docs), plus the fresh blocks after it. Replace
    the state's tail rows with the returned rows, i.e.

        new_state = state.filter(block < tail) UNION resume(...)

    equals ``pack_token_blocks(all_docs, drop_last=False)`` exactly —
    the equivalence law is pytest-pinned.

    Cost: the prior state is scanned EXACTLY ONCE — a single
    ``max_by`` aggregation (map-side partial combine) fetches each
    shard's tail block to the driver: |shards| rows of at most
    ``block_len`` ids each (KBs, the control-plane grain). Tail
    validation, the per-shard resume offsets, and the re-emitted tail
    spans are all derived from that local copy with zero further
    state jobs (r10 ADVICE: the previous shape re-derived the tail
    from the full state lineage 3+ times — tails groupBy + self-join,
    an eager validation pass, and the tailparts explode — which on a
    parquet-backed 100 TB state was 3+ full passes per resume tick).
    The same pass detects a corrupt state carrying multiple DISTINCT
    rows at a shard's tail block and raises instead of resuming from
    an arbitrary survivor (r11 ADVICE). Everything distributed
    touches the NEW batch only. (``commit_packed_batch`` goes one
    step further: its tail-manifest sidecar makes even this one pass
    unnecessary on an ordinary tick.)"""
    if block_len < 1:
        raise ValueError("block_len must be >= 1")
    tails = _collect_packed_tails(state, out_col, spans_col, block_len)
    span_t = state.schema[spans_col].dataType.elementType
    return _resume_from_tails(
        state.sparkSession, tails, span_t["doc_id"].dataType, df,
        id_col, ids_col, block_len=block_len, eos_id=eos_id,
        n_shards=n_shards, order_by=order_by, shard_col=shard_col,
        out_col=out_col, spans_col=spans_col)


def unpack_token_blocks(blocks: DataFrame, *,
                        ids_col: str = "ids",
                        spans_col: str = "doc_spans",
                        strip_eos: int | None = None,
                        id_out: str = "doc_id",
                        out_col: str = "token_ids") -> DataFrame:
    """Exact inverse of ``pack_token_blocks`` — reassemble each
    document's id stream from the packed blocks via the span
    provenance (the audit/debug path: verify a packed dataset, trace
    a training sequence back to its sources, or recover documents
    from shards without the original table). Returns (``id_out``,
    ``out_col``); ``strip_eos`` drops one trailing EOS id when it was
    appended at pack time, so unpack(pack(x)) == x exactly over the
    documents whose streams packing kept whole (``drop_last=True``
    truncates each shard's tail documents by design — those come back
    with their surviving prefix). Pad ids never appear (pads carry no
    span).

    One explode (block -> span grain, ~docs-touching-block rows, NOT
    token grain), per-span slices in-expression, and one groupBy on
    the doc id reassembling ordered pieces — the same
    fine-keyed-shuffle discipline as the packer."""
    part = blocks.select(
        F.col("shard"), F.col("block_id"),
        F.explode(spans_col).alias("__sp"),
        F.col(ids_col).alias("__bids"))
    piece = part.select(
        F.col("__sp.doc_id").alias(id_out),
        F.struct(F.col("shard"), F.col("block_id"),
                 F.col("__sp.start").alias("start")).alias("__ord"),
        F.slice("__bids", F.col("__sp.start") + 1,
                F.col("__sp.len")).alias("__piece"))
    out = (piece.groupBy(id_out)
           .agg(F.flatten(F.transform(
               F.array_sort(F.collect_list(
                   F.struct("__ord", "__piece"))),
               lambda x: x["__piece"])).alias(out_col)))
    if strip_eos is not None:
        n = F.size(out_col)
        out = out.withColumn(
            out_col,
            F.when((n > 0) & (F.element_at(out_col, -1)
                              == int(strip_eos)),
                   F.slice(out_col, 1, n - 1))
            .otherwise(F.col(out_col)))
    return out


def block_positions(blocks: DataFrame, *,
                    spans_col: str = "doc_spans",
                    ids_col: str = "ids",
                    pos_col: str = "position_ids",
                    seq_col: str = "sequence_ids",
                    pad_seq_id: int = -1) -> DataFrame:
    """Per-block trainer companions derived from the span provenance
    (r10 verdict #3) — the two columns a block-diagonal-attention
    trainer consumes next to the packed ids:

    - ``pos_col``: array<int>, the position id of every token in the
      block, RESET to 0 at each document-span start (the standard
      packed-pretraining position-id discipline, so a document that
      starts mid-block still sees positions 0..len-1 and a document
      carried over from the previous block restarts at 0 — each
      block is self-contained);
    - ``seq_col``: array<int>, the span ordinal (0-based, in block
      order) of every token — the segment id from which the trainer
      builds the block-diagonal attention mask (attend only where
      sequence_ids match).

    PAD positions (a ``pack_token_blocks(drop_last=False, pad_id=...)``
    tail block's right padding carries no doc span) are masked with
    ``pad_seq_id`` (default -1, the no-attention/no-loss sentinel
    convention) in BOTH companions, so the arrays always tile
    ``ids_col`` exactly — a trainer masks where sequence_ids < 0.

    Pure arithmetic over ``spans_col`` — a narrow in-expression
    projection (flatten/transform/sequence), no shuffle, no Python,
    no join; positions are exactly reproducible from the spans, so
    the driver oracle value-checks them at token grain."""
    pos = F.flatten(F.transform(
        spans_col, lambda s: F.sequence(F.lit(0), s["len"] - 1)))
    seq = F.flatten(F.transform(
        spans_col,
        lambda s, i: F.array_repeat(i.cast("int"), s["len"])))
    n_pad = F.size(ids_col) - F.size(pos)
    fill = F.array_repeat(F.lit(int(pad_seq_id)).cast("int"), n_pad)
    pad = F.when(n_pad > 0, fill).otherwise(F.array().cast("array<int>"))
    return (blocks.withColumn(pos_col, F.concat(pos, pad))
            .withColumn(seq_col, F.concat(seq, pad)))


def reshuffle_blocks(blocks: DataFrame, *, seed: int = 0,
                     epoch: int = 0, num_shards: int = 8,
                     shard_in: str = "shard",
                     block_col: str = "block_id",
                     key_col: str = "sort_key",
                     shard_col: str = "train_shard",
                     pos_col: str = "pos") -> DataFrame:
    """Block-grain epoch reshuffle (r10 verdict #2): a NEW
    deterministic training order per (seed, epoch) WITHOUT repacking —
    ``pack_token_blocks`` runs once, every epoch is a cheap reorder of
    the block ROWS (the multi-epoch discipline of GPT/T5-style runs:
    epoch k streams the same blocks in a fresh seeded order).

    Exactly the ``global_shuffle`` contract applied at block grain,
    keyed by the block's identity (packing shard, block_id):

    - ``key_col``   md5("seed:epoch:shard:block") — portable (md5 hex
                    is identical in Spark and DuckDB, so the whole
                    epoch order is driver-oracled);
    - ``shard_col`` hex-prefix of the key mod ``num_shards`` — the
                    TRAINING shard layout, independent of the packing
                    shards;
    - ``pos_col``   1-based read position within the training shard.

    A data loader reading training shards in ``pos`` order replays the
    exact epoch order on any engine, any partitioning. Scale shape:
    one narrow key projection + ONE hash exchange + per-shard sorts —
    blocks are ~tokens/block_len rows, so this is orders of magnitude
    lighter than the pack itself; there is no global single-partition
    sort."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    key = F.md5(F.concat_ws(
        ":", F.lit(str(int(seed))), F.lit(str(int(epoch))),
        F.col(shard_in).cast("string"),
        F.col(block_col).cast("string")).cast("binary"))
    out = blocks.withColumn(key_col, key)
    shard_sql = (f"CAST({hex_prefix_long_sql(key_col)} % "
                 f"{int(num_shards)} AS INT)")
    out = out.withColumn(shard_col, F.expr(shard_sql))
    w = Window.partitionBy(shard_col).orderBy(
        key_col, F.col(shard_in), F.col(block_col))
    return out.withColumn(pos_col, F.row_number().over(w))


def block_loss_mask(blocks: DataFrame, prompts: DataFrame,
                    id_col: str, prompt_col: str, *,
                    ids_col: str = "ids",
                    spans_col: str = "doc_spans",
                    out_col: str = "loss_mask",
                    broadcast_prompts: bool = True) -> DataFrame:
    """The SFT trainer companion to ``block_positions`` (r12): per
    packed block, an ``array<int>`` of 0/1 label flags — 1 exactly
    where the CE loss should apply. A token trains iff its WITHIN-
    DOCUMENT offset is at or past the document's prompt length (the
    standard instruction-tuning discipline: prompt tokens are context,
    completion tokens — the appended EOS included — are supervised);
    pad positions (no covering span) are always 0, and a document with
    no prompt row / a NULL prompt length trains everywhere (length 0),
    so pretraining and SFT documents pack into the SAME blocks and the
    mask sorts them out.

    ``prompts`` is (id, prompt length in TOKENS) — at most one row per
    document (the quota-frame contract); a prompt longer than the
    document masks it entirely (an over-long prompt never underflows
    into training on context).

    Scale shape (the block_positions discipline): a span's document
    offset is a window cumulative sum over SPAN-grain rows (one row
    per doc per block it touches — ~docs + crossings, never token
    grain) ordered by (shard, block, start); prompt lengths join at
    that grain (broadcast by default — |SFT docs| rows; pass False
    for a full-corpus prompt frame and the optimizer co-keys it); the
    per-token flags are built in-expression (`transform`/`sequence`)
    and regrouped to block grain by one fine-keyed groupBy + one
    co-keyed join back onto the blocks. No token-grain shuffle, no
    Python."""
    span = (blocks.select(
        "shard", "block_id", F.explode(spans_col).alias("__sp"))
        .select("shard", "block_id",
                F.col("__sp.start").alias("__start"),
                F.col("__sp.len").alias("__len"),
                F.col("__sp.doc_id").alias("__did")))
    w = (Window.partitionBy("__did")
         .orderBy("shard", "block_id", "__start")
         .rowsBetween(Window.unboundedPreceding, -1))
    off = span.withColumn(
        "__doff", F.coalesce(F.sum("__len").over(w),
                             F.lit(0).cast("long")))
    pr = prompts.select(F.col(id_col).alias("__did"),
                        F.col(prompt_col).cast("long").alias("__plen"))
    if broadcast_prompts:
        pr = F.broadcast(pr)
    j = off.join(pr, "__did", "left")
    plen = F.coalesce(F.col("__plen"), F.lit(0).cast("long"))
    flags = F.transform(
        F.sequence(F.lit(1), F.col("__len")),
        lambda k: ((F.col("__doff") + k - 1) >= plen).cast("int"))
    parts = (j.select("shard", "block_id",
                      F.struct(F.col("__start").alias("start"),
                               flags.alias("m")).alias("__p"),
                      F.col("__len"))
             .groupBy("shard", "block_id")
             .agg(F.array_sort(F.collect_list("__p")).alias("__parts"),
                  F.sum("__len").cast("int").alias("__cov")))
    mask = F.concat(
        F.flatten(F.transform("__parts", lambda p: p["m"])),
        F.array_repeat(F.lit(0).cast("int"),
                       F.size(ids_col) - F.col("__cov")))
    return (blocks.join(parts, ["shard", "block_id"])
            .withColumn(out_col, mask)
            .drop("__parts", "__cov"))


def _packed_dirs(spark, state_path: str) -> list[tuple[int, bool, bool]]:
    """Version directories under a ``packing_stream`` state root,
    ascending: (version, committed, full). ``committed`` =
    ``_SUCCESS`` present (a parquet write finished); ``full`` =
    ``_FULL`` marker present (the directory holds the COMPLETE state,
    not a delta)."""
    from serverless_data_pipeline_spark.operators.util import hadoop_fs

    fs, root = hadoop_fs(spark, state_path)
    if not fs.exists(root):
        return []
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append((int(name[1:]),
                        fs.exists(jpath(st.getPath(), "_SUCCESS")),
                        fs.exists(jpath(st.getPath(), "_FULL"))))
    return sorted(out)


def _merged_packed_state(spark, state_path: str,
                         versions: list[tuple[int, bool]]) -> DataFrame:
    """Merge-on-read over a committed (version, full) chain: read the
    newest FULL version plus every later delta, keep each
    (shard, block_id)'s row from the HIGHEST version — one fine-keyed
    aggregation, the standard log-structured read path. A full
    directory whose ``_FULL`` marker was lost (crash between the
    parquet commit and the marker write) merely extends the chain one
    full further back — its rows still win on version, so the merged
    state is identical."""
    from functools import reduce

    fulls = [v for v, f in versions if f]
    start = max(fulls) if fulls else versions[0][0]
    use = [v for v, _f in versions if v >= start]
    dfs = [spark.read.parquet(f"{state_path}/v{v:012d}")
           .withColumn("__pv", F.lit(v)) for v in use]
    u = reduce(lambda a, b: a.unionByName(b), dfs)
    if len(use) == 1:
        return u.drop("__pv")
    rest = [c for c in u.columns
            if c not in ("shard", "block_id", "__pv")]
    return (u.groupBy("shard", "block_id")
            .agg(F.max_by(F.struct(*rest), F.col("__pv"))
                 .alias("__r"))
            .select("shard", "block_id", "__r.*"))


def latest_packed_state(spark, state_path: str) -> DataFrame:
    """Read the current packed state written by ``packing_stream`` /
    ``commit_packed_batch`` (the consumer's entry point — a trainer's
    data loader or an audit job points here): the newest committed
    FULL version merged with every later committed delta."""
    dirs = [(v, f) for v, ok, f in _packed_dirs(spark, state_path)
            if ok]
    if not dirs:
        raise FileNotFoundError(
            f"no committed packed state under {state_path}")
    return _merged_packed_state(spark, state_path, dirs)


def _write_tail_manifest(spark, vdir: str, out_col: str = "ids",
                         spans_col: str = "doc_spans",
                         frame: DataFrame | None = None) -> None:
    """The |shards|-row tail-manifest sidecar (r12, the last per-tick
    scale cliff in the packing loop): each version directory carries
    ``_tails/`` — one row per shard holding that shard's NEW tail
    block (id payload + spans) AFTER this version's commit. The next
    ordinary tick resumes from the newest manifest instead of
    ``max_by``-scanning the merged state, making per-tick READ I/O
    O(batch + |shards|), matching the O(batch) write.

    Correctness: a version directory — delta or full — always contains
    every shard's current tail (a delta is the resume output: each
    shard's re-emitted tail merged with the new stream, plus the fresh
    blocks after it; a full is the whole state), so the per-shard max
    block over THIS directory alone IS the global tail. The leading
    underscore keeps the sidecar invisible to the version's parquet
    readers (Hadoop hides ``_``/``.`` paths), and it is written AFTER
    the version's parquet commit — a crash in between leaves a
    committed version without a manifest, which the read path treats
    as "fall back to the one-pass state scan".

    ``frame`` (compaction ticks): aggregate this O(batch) frame —
    which by the invariant above carries every shard's new tail, the
    resume output — instead of reading back the ENTIRE just-written
    full directory only to discard all but |shards| rows."""
    just = frame if frame is not None else spark.read.parquet(vdir)
    (just.groupBy("shard")
         .agg(F.max("block_id").alias("block_id"),
              F.max_by(F.col(out_col), F.col("block_id")).alias(out_col),
              F.max_by(F.col(spans_col), F.col("block_id"))
               .alias(spans_col))
     .coalesce(1)
     .write.mode("overwrite").parquet(f"{vdir}/_tails"))


def _read_tail_manifest(spark, vdir: str, L: int,
                        out_col: str = "ids",
                        spans_col: str = "doc_spans"):
    """Read a version's tail-manifest sidecar: (tails, span_doc_type)
    with the same validation as the scan path, or None when the
    manifest is absent/uncommitted (pre-r12 state roots, or a crash
    between the version commit and the manifest write) — callers fall
    back to `_collect_packed_tails` over the merged state."""
    from serverless_data_pipeline_spark.operators.util import hadoop_fs

    md = f"{vdir}/_tails"
    fs, jp = hadoop_fs(spark, f"{md}/_SUCCESS")
    if not fs.exists(jp):
        return None
    mf = spark.read.parquet(md)
    tails = []
    seen_shards: set[int] = set()
    for r in mf.collect():
        if int(r["shard"]) in seen_shards:
            # mirror the scan path's corrupt-state raise (r12 ADVICE):
            # the writer groupBys on shard so it can't emit two rows
            # for one shard, but a hand-edited/corrupt sidecar with a
            # duplicate shard would otherwise feed conflicting prior
            # offsets into _resume_from_tails and silently mis-offset
            # that shard — the manifest fast path must be no weaker
            # than the scan fallback it replaces
            raise ValueError(
                f"corrupt tail manifest at {md}: shard {r['shard']} "
                "appears more than once — a resume from an arbitrary "
                "survivor would silently mis-offset the shard; delete "
                "the _tails sidecar to force the one-pass state scan, "
                "or rebuild the state")
        seen_shards.add(int(r["shard"]))
        _validate_packed_tail(r["shard"], r["block_id"], r[out_col],
                              r[spans_col], L)
        tails.append((int(r["shard"]), int(r["block_id"]),
                      r[out_col], r[spans_col]))
    span_t = mf.schema[spans_col].dataType.elementType
    return tails, span_t["doc_id"].dataType


def _claim_stream_marker(spark, state_path: str, stream_id: str) -> None:
    """Single-writer ownership pin (r11 ADVICE): the first commit
    writes ``_STREAM`` (the owning stream's identity — packing_stream
    uses its checkpoint location) into the state root; any later
    commit carrying a DIFFERENT identity raises instead of silently
    swallowing its batches as replayed ticks (the failure mode: a
    fresh checkpoint restarts batch ids at 0, every tick collides
    with an old committed version, and commit_packed_batch returns
    False until the ids outrun the old max — silent data loss)."""
    from serverless_data_pipeline_spark.operators.util import hadoop_fs

    fs, jp = hadoop_fs(spark, f"{state_path}/_STREAM")
    if not fs.exists(jp):
        # Claim: write a temp file (name derived from the claimant's
        # identity, so racers never clobber each other's temp), then
        # PUBLISH atomically, then VERIFY by re-reading the marker. A
        # crash mid-write can never leave a truncated marker that
        # would lock out the rightful stream on restart. The publish
        # primitive depends on what the filesystem can guarantee:
        #
        # - local file: POSIX rename(2) silently REPLACES an existing
        #   destination, so rename cannot arbitrate a first-claim
        #   race — instead the temp is HARD-LINKED to the marker name
        #   (link(2) fails with EEXIST atomically; exactly one racer
        #   wins, and nothing ever replaces the marker afterwards).
        # - HDFS-like schemes: rename refuses an existing destination
        #   at the namenode — itself an atomic arbiter.
        # - object stores without atomic metadata ops (s3a): the
        #   rename fallback narrows but cannot close the window; the
        #   verify below plus the per-tick re-verify (this function
        #   runs on EVERY commit) bound a same-instant double-claim
        #   to at most the loser's first tick before it raises.
        suffix = hashlib.sha256(stream_id.encode("utf-8")).hexdigest()[:16]
        _fs2, tmp = hadoop_fs(spark,
                              f"{state_path}/_STREAM.claim.{suffix}")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(stream_id.encode("utf-8")))
        finally:
            out.close()
        linked = False
        if jp.toUri().getScheme() in (None, "file"):
            jnf = spark._jvm.java.nio.file.Paths.get
            try:
                spark._jvm.java.nio.file.Files.createLink(
                    jnf(jp.toUri().getPath()),
                    jnf(tmp.toUri().getPath()))
                linked = True                  # atomically won
            except Exception as e:             # noqa: BLE001
                name = getattr(getattr(e, "java_exception", None),
                               "getClass", lambda: None)()
                name = name.getName() if name is not None else ""
                if "FileAlreadyExists" in name:
                    linked = True              # atomically LOST —
                    # the marker exists with the winner's id; never
                    # fall through to a replacing rename
                # any other failure (links unsupported on this
                # mount): fall back to rename below
            if linked:
                fs.delete(tmp, False)
        if not linked and not fs.rename(tmp, jp):
            fs.delete(tmp, False)      # lost the race outright
        # fall through: verify-after-claim — re-read and compare
    ins = fs.open(jp)
    try:
        existing = spark._jvm.org.apache.commons.io.IOUtils.toString(
            ins, "UTF-8")
    finally:
        ins.close()
    if existing != stream_id:
        raise ValueError(
            f"packed state at {state_path} is owned by stream "
            f"{existing!r} but this commit carries stream_id "
            f"{stream_id!r} — tick ids from a different stream/"
            "checkpoint would collide with committed versions and "
            "be dropped as replays; use a fresh state root (or "
            "delete the _STREAM marker to transfer ownership "
            "deliberately)")


def commit_packed_batch(spark, batch: DataFrame, state_path: str,
                        tick_id: int, *, id_col: str = "doc_id",
                        ids_col: str = "token_ids",
                        block_len: int = 2048,
                        eos_id: int | None = None,
                        n_shards: int = 8,
                        order_by: str | None = None,
                        shard_col: str | None = None,
                        compact_every: int = 16,
                        stream_id: str | None = None) -> bool:
    """ONE idempotent packing commit: fold a landed batch into the
    versioned packed state at ``state_path`` (the unit of work
    ``packing_stream`` runs per tick, exposed so a driver-loop
    scheduler or a test can call it directly).

    Log-structured versioned-state protocol (the at-least-once
    hardening the manual foreachBatch loop lacks — a crash between a
    plain overwrite and the stream checkpoint would double-append the
    re-delivered batch, and a crash MID-overwrite would corrupt the
    only copy):

    - the first-ever commit bootstraps ``pack_token_blocks(...,
      drop_last=False)`` as a FULL version (``_FULL``-marked);
    - an ordinary tick writes a DELTA directory holding ONLY
      ``resume_token_blocks``' output — the re-emitted tail blocks
      plus the new blocks — so per-tick WRITE I/O is O(batch +
      |shards| tails), never O(state) (the r11 review finding: the
      first cut rewrote the whole state every tick, negating the
      single-scan resume one layer up);
    - every ``compact_every``-th tick instead materializes the merged
      view as a new FULL version (amortized O(state/compact_every)
      write — the standard log-structured compaction trade), then
      prunes every directory older than it, INCLUDING uncommitted
      crash leftovers;
    - readers (``latest_packed_state``) merge the newest full with
      later deltas, newest version winning per (shard, block_id) —
      one fine-keyed aggregation, delta-chain length bounded by
      ``compact_every``;
    - each tick writes a NEW directory ``v{tick_id}`` and never
      touches prior versions — a mid-write crash leaves an
      uncommitted directory the next attempt simply overwrites;
    - the resume basis is the merged chain STRICTLY BELOW
      ``tick_id``, so a re-delivered tick re-derives the same output
      from the same basis (idempotent by construction); a tick whose
      own version already committed is a no-op (returns False).

    Per-tick READ (r12): every version commit also writes a
    ``_tails/`` manifest sidecar — |shards| rows holding each shard's
    tail block after that commit — so an ordinary tick resumes from
    the newest basis version's manifest and reads O(batch + |shards|)
    TOTAL, never touching the state parquet (pinned by deleting the
    state part-files before a tick). A missing manifest (pre-r12
    state, or a crash between the version commit and the manifest
    write) falls back to the one-pass ``max_by`` scan over the merged
    chain; only the compaction tick still reads the full state — it
    must, it is rewriting it. By the resume==full-repack law the
    merged state always equals a one-shot repack of everything landed
    so far. Single-writer protocol (one stream owns a state root):
    pass ``stream_id`` (packing_stream sends its checkpoint location)
    to PIN ownership in a ``_STREAM`` marker — a commit from a
    different stream raises instead of silently dropping batches
    whose fresh tick ids collide with old committed versions, and a
    non-empty batch swallowed as a replayed tick warns loudly (r11
    ADVICE). Returns True when a new version was written."""
    import warnings

    from serverless_data_pipeline_spark.operators.util import hadoop_fs

    if compact_every < 1:
        raise ValueError("compact_every must be >= 1")
    if stream_id is not None:
        _claim_stream_marker(spark, state_path, stream_id)
    dirs = _packed_dirs(spark, state_path)
    committed = [(v, f) for v, ok, f in dirs if ok]
    if tick_id in [v for v, _f in committed]:
        if not batch.isEmpty():
            warnings.warn(
                f"commit_packed_batch: tick {tick_id} is already "
                f"committed under {state_path}; dropping a NON-EMPTY "
                "batch as an at-least-once re-delivery. If the stream "
                "checkpoint was reset while this state root was kept, "
                "this is silent data loss — use a fresh state root, "
                "or pass stream_id to pin ownership.",
                RuntimeWarning, stacklevel=2)
        return False
    basis = [(v, f) for v, f in committed if v < tick_id]
    kw = dict(block_len=block_len, eos_id=eos_id, n_shards=n_shards,
              order_by=order_by, shard_col=shard_col)
    fs, _root = hadoop_fs(spark, state_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    vdir = f"{state_path}/v{tick_id:012d}"
    if not basis:
        pack_token_blocks(batch, id_col, ids_col, drop_last=False,
                          **kw).write.mode("overwrite").parquet(vdir)
        _write_tail_manifest(spark, vdir)
        fs.create(jpath(vdir + "/_FULL"), True).close()
        return True
    fulls = [v for v, f in basis if f]
    n_deltas = len([v for v, _f in basis
                    if not fulls or v > max(fulls)])
    compacting = n_deltas + 1 >= compact_every
    newest = max(v for v, _f in basis)
    got = _read_tail_manifest(
        spark, f"{state_path}/v{newest:012d}", block_len)
    state = None
    if got is None or compacting:
        # manifest missing (pre-r12 state / crash before the sidecar
        # landed) -> one-pass scan fallback; compaction always builds
        # the merged state — it is rewriting it anyway
        state = _merged_packed_state(spark, state_path, basis)
    if got is None:
        tails = _collect_packed_tails(state, "ids", "doc_spans",
                                      block_len)
        span_t = (state.schema["doc_spans"].dataType.elementType
                  ["doc_id"].dataType)
    else:
        tails, span_t = got
    out = _resume_from_tails(spark, tails, span_t, batch,
                             id_col, ids_col, **kw)
    if compacting:
        # compaction tick: fold the chain + this tick into one FULL
        # version (the only O(state)-write tick), then prune
        # everything older — committed deltas AND uncommitted crash
        # leftovers alike. The non-tail rows keep as-is; the tail
        # boundary reuses the ALREADY-FETCHED |shards| tail rows
        # (r11 verdict: the first cut re-derived them with a second
        # O(state) groupBy)
        tdf = F.broadcast(spark.createDataFrame(
            [(int(s), int(b)) for s, b, _i, _sp in tails] or [],
            "shard int, __tb long"))
        keep = (state.join(tdf, "shard")
                .filter(F.col("block_id") < F.col("__tb"))
                .drop("__tb"))
        keep.unionByName(out).write.mode("overwrite").parquet(vdir)
        _write_tail_manifest(spark, vdir, frame=out)
        fs.create(jpath(vdir + "/_FULL"), True).close()
        for v, _ok, _f in dirs:
            if v < tick_id:
                fs.delete(jpath(f"{state_path}/v{v:012d}"), True)
    else:
        out.write.mode("overwrite").parquet(vdir)
        _write_tail_manifest(spark, vdir)
    return True


def packing_stream(spark, landing_path: str, schema, state_path: str,
                   checkpoint: str, *, id_col: str = "doc_id",
                   ids_col: str = "token_ids",
                   block_len: int = 2048, eos_id: int | None = None,
                   n_shards: int = 8, order_by: str | None = None,
                   shard_col: str | None = None,
                   compact_every: int = 16, fmt: str = "json",
                   available_now: bool = True,
                   interval_s: float = 3600.0,
                   max_files_per_tick: int | None = None):
    """The packed-pretraining artifact maintained by ONE streaming
    query — the X7 ``maintenance_stream`` discipline applied to the
    packing state: each tick's micro-batch is exactly the id files
    landed since the last tick (checkpointed file source), and
    ``commit_packed_batch`` folds it into the log-structured
    versioned state — tick 1 bootstraps a full pack, an ordinary tick
    WRITES only the re-emitted tails + new blocks (O(batch) write
    I/O), every ``compact_every``-th tick folds the delta chain into
    a fresh full version, and a re-delivered tick is a provable no-op
    (see the commit protocol). Ordinary ticks READ O(batch) too (r12):
    each version carries a |shards|-row tail-manifest sidecar the next
    resume starts from, so the state parquet is only read by
    compaction and by consumers. The stream pins ownership of the
    state root with its checkpoint location (``_STREAM`` marker) — a
    different checkpoint driving the same root raises instead of
    silently dropping batches on tick-id collisions (r11 ADVICE).
    Consumers read ``latest_packed_state``; batches must respect the
    append-only contract (new ids sort after packed ones within their
    shard). ``available_now=True`` drains the backlog and stops
    (backfill/test mode); ``False`` fires on the fixed-rate grid."""
    from serverless_data_pipeline_spark.plans.scheduler import (
        scheduled_batch_query,
    )

    from serverless_data_pipeline_spark.operators.util import hadoop_fs

    # ownership identity = the FULLY-QUALIFIED checkpoint URI, not the
    # caller's spelling — restarting the same stream with a relative /
    # absolute / trailing-slash / file:-scheme variant of the same
    # checkpoint must keep owning the state root
    ck_fs, ck_path = hadoop_fs(spark, str(checkpoint))
    stream_id = ck_fs.makeQualified(ck_path).toString()

    def _tick(batch_df, tick_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_packed_batch(
            spark, batch_df, state_path, int(tick_id),
            id_col=id_col, ids_col=ids_col, block_len=block_len,
            eos_id=eos_id, n_shards=n_shards, order_by=order_by,
            shard_col=shard_col, compact_every=compact_every,
            stream_id=stream_id)

    return scheduled_batch_query(
        spark, landing_path, schema, _tick, checkpoint,
        interval_s=interval_s, fmt=fmt, available_now=available_now,
        max_files_per_tick=max_files_per_tick)


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  id_col: str, text_col: str,
                  n: int = 5, min_overlap: int = 1,
                  broadcast_eval: bool = True) -> DataFrame:
    """Benchmark decontamination: flag training documents that share >=
    ``min_overlap`` distinct word ``n``-grams with ANY document in the
    held-out/eval set — the standard guard against test-set leakage when
    assembling a pretraining corpus (the X-extension sibling of the
    validation stage contract, py:243-255: a gate that marks rows instead
    of dropping them, so callers choose flag-and-audit or hard drop).

    Returns ``train`` plus ``n_overlap`` (distinct contaminated n-grams
    in this doc) and ``contaminated`` (boolean).

    Scale shape: the eval side is tiny relative to a 100 TB train corpus
    (thousands vs billions of docs), so its DISTINCT shingle set is
    broadcast (``broadcast_eval=True``) and the probe is a map-side
    semi-join on the train shingle scan — no KEYED shuffle of train
    data at all (one exemption: ``spread_small_input`` round-robins a
    few-files-small train scan across the cores before the shingle
    explode; at real scale the probe sees many row groups and inserts
    nothing). The only keyed shuffles are on ``id_col``: counting
    overlaps per contaminated doc (a tiny fraction of the corpus) and
    the final left join of hits back onto train. If the eval set is
    itself huge, pass ``broadcast_eval=False`` and the same plan
    degrades gracefully to a shuffled join on the shingle key."""
    from serverless_data_pipeline_spark.operators.util import (
        spread_small_input,
    )
    # r13: spread the train side before the shingle explode (the row's
    # heaviest map stage); no-op at real scale.
    train = spread_small_input(train)
    # r14 (guide §2.3/§4.2): tokenize into a column first — passing the
    # raw `tokens()` expression into `shingles_from_tokens` re-ran the
    # split inside every slice/size reference of the shingle chain
    # (~9 splits per row; fresh lambda ids defeat runtime CSE).
    t_sh = (train.select(F.col(id_col), tokens(text_col).alias("__t"))
            .select(F.col(id_col),
                    F.explode(F.array_distinct(
                        shingles_from_tokens("__t", n))).alias("__sh")))
    e_sh = (eval_df.select(tokens(text_col).alias("__t"))
            .select(F.explode(F.array_distinct(
                shingles_from_tokens("__t", n))).alias("__sh"))
            .distinct())
    if broadcast_eval:
        e_sh = F.broadcast(e_sh)
    hits = (t_sh.join(e_sh, "__sh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_overlap"))
            .filter(F.col("n_overlap") >= min_overlap))
    return (train.join(hits, id_col, "left")
            .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
            .withColumn("contaminated", F.col("n_overlap") >= min_overlap))


def shingle_bloom(df: DataFrame, text_col: str, n: int = 5,
                  m_bits: int = 1 << 28, k_hashes: int = 4) -> DataFrame:
    """Distributed Bloom bitmap of a corpus's distinct word ``n``-gram
    set, as a DataFrame of packed 64-bit words ``(word_idx, word)`` —
    at most ``m_bits / 64`` rows regardless of corpus size. Built
    entirely engine-side: shingle → ``k_hashes`` positions
    (``xxhash64(shingle, i) mod m``) → distinct → bit-OR into words.
    One shuffle keyed on ``word_idx`` (map-side partial ``bit_or``);
    the bitmap never touches the driver."""
    if k_hashes < 1:
        raise ValueError("k_hashes must be >= 1 (0 hash probes would "
                         "make every membership test vacuously true)")
    if m_bits < 64:
        raise ValueError("m_bits must be >= 64 (one packed word)")
    sh = (df.select(tokens(text_col).alias("__t"))  # r14: split once
          .select(F.explode(F.array_distinct(
              shingles_from_tokens("__t", n))).alias("__sh")))
    pos = sh.select(F.explode(F.array(
        *[F.pmod(F.xxhash64("__sh", F.lit(i)), F.lit(m_bits))
          for i in range(k_hashes)])).alias("__pos"))
    return (pos.groupBy(F.expr("__pos div 64").alias("word_idx"))
            .agg(F.expr("bit_or(shiftleft(1L, cast(__pos % 64 as int)))")
                  .alias("word")))


def bloom_decontaminate(train: DataFrame, eval_df: DataFrame,
                        id_col: str, text_col: str,
                        n: int = 5, min_overlap: int = 1,
                        m_bits: int = 1 << 28,
                        k_hashes: int = 4) -> DataFrame:
    """X10's scale path: Bloom-filter benchmark decontamination, for
    when the held-out set's raw distinct-shingle frame outgrows a
    comfortable broadcast. ``decontaminate`` broadcasts the eval
    shingle STRINGS (~tens of bytes each); this broadcasts a fixed
    ``m_bits``-bit bitmap (~9.6 bits/element at 1 % FP) — one to two
    orders of magnitude smaller for the same eval set, and its size is
    chosen up front, independent of shingle width.

    Same contract as ``decontaminate`` (returns ``train`` +
    ``n_overlap`` + ``contaminated``) with one-sided error: NO false
    negatives ever (every truly shared n-gram hashes to set bits), and
    false-positive shingles at the standard Bloom rate
    ``(1 - e^(-kn/m))^k`` — a flagged doc may be clean, a clean verdict
    is always right. That direction is the safe one for
    decontamination: you over-drop slightly, you never leak eval data
    into train. Deterministic: fixed seeds (0..k-1), no randomness.

    Scale shape: the bitmap frame (≤ ``m_bits/64`` rows) broadcasts;
    the probe is ``k_hashes`` chained broadcast hash joins over the
    train shingle scan — whole-stage-codegen'd, NO shuffle of train
    data at all (same never-shuffle-train property as the exact path,
    plan-asserted in tests). The only shuffles key on ``id_col`` for
    the per-doc overlap count, exactly as in ``decontaminate``."""
    from serverless_data_pipeline_spark.operators.util import (
        spread_small_input,
    )
    train = spread_small_input(train)  # r13: see decontaminate
    bloom = shingle_bloom(eval_df, text_col, n=n, m_bits=m_bits,
                          k_hashes=k_hashes)
    # r14: split once (see decontaminate)
    t_sh = (train.select(F.col(id_col), tokens(text_col).alias("__t"))
            .select(F.col(id_col),
                    F.explode(F.array_distinct(
                        shingles_from_tokens("__t", n))).alias("__sh")))
    probe = t_sh
    hit = F.lit(True)
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64("__sh", F.lit(i)), F.lit(m_bits))
        b = F.broadcast(
            bloom.select(F.col("word_idx").alias(f"__w{i}"),
                         F.col("word").alias(f"__word{i}")))
        # Word index AND bit mask derive from the SAME materialized
        # position column `__p{i}` (r6 ADVICE): two independently-built
        # hash expressions could silently drift apart and break the
        # no-false-negative guarantee; one shared position column makes
        # that impossible. (`F.shiftleft` only takes a literal bit
        # count, hence the one-column `F.expr` for the mask.)
        probe = (probe
                 .withColumn(f"__p{i}", p)
                 .withColumn(f"__w{i}", (F.col(f"__p{i}") / 64)
                             .cast("long"))
                 .withColumn(f"__b{i}", F.expr(
                     f"shiftleft(1L, cast(pmod(__p{i}, 64) as int))"))
                 .join(b, f"__w{i}", "left"))
        hit = hit & (F.col(f"__word{i}").isNotNull()
                     & (F.col(f"__word{i}")
                         .bitwiseAND(F.col(f"__b{i}")) != 0))
    hits = (probe.filter(hit)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_overlap"))
            .filter(F.col("n_overlap") >= min_overlap))
    return (train.join(hits, id_col, "left")
            .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
            .withColumn("contaminated",
                        F.col("n_overlap") >= min_overlap))


def segment_dedup(df: DataFrame, id_col: str, text_col: str,
                  segment_words: int = 10) -> DataFrame:
    """Sub-document exact deduplication at segment grain — the line/
    paragraph-level dedup of corpus pipelines (CCNet-style paragraph-hash
    dedup; "Deduplicating Training Data Makes Language Models Better"
    motivates removing repeated SPANS, not just whole documents). Whole-doc
    dedup (X1) misses the boilerplate paragraph pasted into a million
    otherwise-distinct pages; this removes it everywhere but its first
    occurrence.

    Each doc's token stream is cut into consecutive ``segment_words``-word
    segments; for every distinct segment the corpus-wide FIRST occurrence
    (min (doc_id, segment_idx)) survives; docs are rebuilt from their
    surviving segments in original order. Docs whose every segment is a
    repeat disappear (they were pure boilerplate). Returns
    (id, text, n_segments, n_kept).

    Scale shape: one groupBy keyed on the segment fingerprint + one
    groupBy(id) to reassemble; linear in corpus token count, no pairwise
    work. The first-occurrence pick is a min-struct AGGREGATION, not a
    row_number window: partial aggregation combines map-side, so the
    boilerplate segment pasted into a million pages — the exact skew
    case this operator exists for — ships one pre-combined row per map
    task instead of serializing a million rows into one un-splittable
    window sort. The shuffle also shrinks to one row per DISTINCT
    segment."""
    from serverless_data_pipeline_spark.operators.util import (
        spread_small_input,
    )
    # r13 (optimization round): a small single-file corpus scans as ONE
    # partition, single-coring the per-segment md5 map stage; no-op at
    # real scale (inputs then have many row groups).
    toks = (spread_small_input(df)
            .select(F.col(id_col), tokens(text_col).alias("__t")))
    # n_segments rides through the explode (and through the min struct —
    # it belongs to the winning row's doc) — joining it back from a
    # second tokenize pass would rescan and re-tokenize the whole corpus.
    segs = (toks.filter(F.size("__t") > 0)
            .select(
                F.col(id_col),
                F.ceil(F.size("__t") / F.lit(float(segment_words)))
                 .cast("int").alias("n_segments"),
                F.posexplode(F.expr(
                    f"transform(sequence(0, cast(ceil(size(__t) / "
                    f"{float(segment_words)}) as int) - 1), "
                    f"i -> array_join(slice(__t, i * {segment_words} + 1, "
                    f"{segment_words}), ' '))"))
                 .alias("__idx", "__seg")))
    # (id, idx) is unique, so min(struct) is a total order and __seg /
    # n_segments just ride along with the winner.
    kept = (segs.groupBy(F.md5("__seg").alias("__fp"))
            .agg(F.min(F.struct(F.col(id_col), F.col("__idx"),
                                F.col("__seg"), F.col("n_segments")))
                  .alias("__f"))
            .select(F.col(f"__f.{id_col}").alias(id_col),
                    F.col("__f.__idx").alias("__idx"),
                    F.col("__f.__seg").alias("__seg"),
                    F.col("__f.n_segments").alias("n_segments")))
    return (kept.groupBy(id_col)
            .agg(F.sort_array(F.collect_list(F.struct("__idx", "__seg")))
                  .alias("__ks"),
                 F.first("n_segments").alias("n_segments"))
            .select(F.col(id_col),
                    F.array_join(
                        F.expr("transform(__ks, s -> s.__seg)"), " ")
                     .alias(text_col),
                    "n_segments",
                    F.size("__ks").alias("n_kept")))


def passage_dedup(df: DataFrame, id_col: str, text_col: str,
                  k: int = 8,
                  fingerprint: str = "md5",
                  rank_via: str = "window") -> DataFrame:
    """Exact repeated-passage removal at sliding-window grain — the
    ExactSubstr dedup of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022) re-expressed as DataFrame ops.
    `segment_dedup` cuts at fixed segment boundaries, so a duplicated
    passage that straddles a boundary survives; this slides a k-token
    window with stride 1, so EVERY duplicated run of >= k tokens is
    caught regardless of alignment.

    Semantics: a k-token window whose text occurs more than once in the
    corpus is a duplicate; its corpus-wide first occurrence (ordered by
    (doc, position)) survives, and every token covered by a non-first
    occurrence is removed. Docs are rebuilt from surviving tokens in
    order; docs that lose everything disappear (pure boilerplate), and
    docs shorter than k tokens are untouched. Returns
    (id, text, n_tokens, n_removed).

    Scale shape (the suffix array of the paper is a shared-memory
    structure; this is the shuffle-native equivalent). Two corpus-scale
    shuffles only:
    1. duplicate ranking — window fingerprints are compacted to a hash
       BEFORE the shuffle, so the wide window text never moves: the
       shuffle carries (fp, id, pos) triples, one per window (stride 1
       => one per token, constant row size);
    2. one doc-grain join of the corpus against the per-doc removed
       position sets (collect_set over k x duplicated-window positions —
       small by construction since duplicates are the minority), with
       the excision done in-row by a hash-set `array_except` over the
       position list plus an `element_at` gather. Tokens are never
       exploded into a shuffle and there is no collect_list reassembly.
    The source is scanned twice (window pass + rebuild pass) and the
    tokenize is recomputed per pass — deliberate: materializing the wide
    token arrays measured 3x slower than regex recompute over compact
    text (same A/B as the sketch operators' call sites).
    No pairwise work anywhere. `fingerprint="md5"` matches the DuckDB
    oracle bit-for-bit; "xxhash64" is the cheaper 8-byte shuffle key for
    production corpora (collision odds ~n^2/2^64 merge two windows' rank
    chains — worst case an extra span removal, never corrupted text).

    `rank_via` picks the first-occurrence ranking (equivalence-tested;
    both produce identical output, and the plan stays lazy either way):
    * "window" (default) — one row_number window over the fingerprint;
      single pass over the window stream (A/B at sf0.1: 1.5-1.7 s vs
      2.3-2.4 s for minjoin, whose join-back recomputes the stream).
      The fast path WHEN no fingerprint is pathologically hot: a window
      sort cannot split one key across tasks.
    * "minjoin" — min-struct aggregation (map-side combinable) + an
      AQE-skew-splittable join-back. Use when one fingerprint is
      pathologically hot (boilerplate pasted into millions of docs):
      the aggregation pre-combines it map-side. Measured honestly: local
      A/B stays flat even with a planted 2M-occurrence hot key
      (min-of-3: 14.3 s window vs 13.9 s minjoin at 2M docs) because 32
      local threads hide the straggler behind the rest of the stream —
      the lever is cluster wall-clock, where the one unsplittable sort
      task defines the stage. There is no sampled "auto" choice: its
      probe cost a 3-job sampling execution per call (0.4-0.6 s of a
      corpus day) to pick between arms that measure the same locally.
      segment_dedup needs no such switch — its kept set IS the
      aggregation result, no join-back, so min-struct is both the fast
      and the skew-safe path there.
    """
    fp_templates = {
        "md5": "md5(array_join(slice(__t, i, {k}), ' '))",
        "xxhash64": "xxhash64(array_join(slice(__t, i, {k}), ' '))",
    }
    if fingerprint not in fp_templates:
        raise ValueError(f"fingerprint must be one of "
                         f"{sorted(fp_templates)}, got {fingerprint!r}")
    fp_sql = fp_templates[fingerprint].format(k=k)
    from serverless_data_pipeline_spark.operators.util import (
        spread_small_input,
    )
    # r13: spread before the stride-1 window fingerprint stream — one
    # md5 PER TOKEN is the row's heaviest map stage and a single-file
    # corpus would otherwise compute it on one core.
    toks = (spread_small_input(df)
            .select(F.col(id_col), tokens(text_col).alias("__t"))
            .filter(F.size("__t") > 0))
    wins = (toks.filter(F.size("__t") >= k)
            .select(F.col(id_col),
                    F.posexplode(F.expr(
                        f"transform(sequence(1, size(__t) - {k} + 1), "
                        f"i -> {fp_sql})")).alias("__p0", "__fp")))
    if rank_via == "window":
        # rn >= 2 implies the fingerprint group has >= 2 members.
        w = Window.partitionBy("__fp").orderBy(id_col, "__p0")
        flagged = (wins.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") >= 2))
    elif rank_via == "minjoin":
        # `firsts` keeps only cnt >= 2 groups (duplicates are the
        # minority, so it is small and often broadcastable); the inner
        # join-back drops every non-duplicated window before any
        # downstream work and AQE can skew-split a hot fingerprint.
        firsts = (wins.groupBy("__fp")
                  .agg(F.min(F.struct(F.col(id_col), F.col("__p0")))
                        .alias("__f"),
                       F.count(F.lit(1)).alias("__cnt"))
                  .filter(F.col("__cnt") >= 2)
                  .select("__fp", "__f"))
        flagged = (wins.join(firsts, "__fp")
                   .filter(~((F.col(id_col) == F.col(f"__f.{id_col}"))
                             & (F.col("__p0") == F.col("__f.__p0")))))
    else:
        raise ValueError(f"rank_via must be 'window' or 'minjoin', "
                         f"got {rank_via!r}")
    # Per-doc set of covered token positions (1-based start = __p0+1
    # covers start .. start+k-1); collect_set dedups overlapping windows.
    removed = (flagged.select(F.col(id_col),
                              F.explode(F.expr(
                                  f"sequence(__p0 + 1, __p0 + {k})"))
                               .alias("__rp"))
               .groupBy(id_col).agg(F.collect_set("__rp").alias("__rm")))
    # array_except is hash-set backed (O(tokens + removed) per doc, vs
    # O(tokens x removed) for a per-token array_contains scan — the
    # difference between linear and quadratic on a large mostly-duplicate
    # doc) and preserves first-array order, so the position list stays
    # sorted and the gather keeps token order.
    return (toks.join(removed, id_col, "left")
            .select(F.col(id_col),
                    F.size("__t").alias("n_tokens"),
                    F.when(F.col("__rm").isNull(), F.col("__t"))
                     .otherwise(F.expr(
                         "transform(array_except(sequence(1, size(__t)), "
                         "__rm), p -> element_at(__t, p))"))
                     .alias("__keep"))
            .filter(F.size("__keep") > 0)
            .select(F.col(id_col),
                    F.array_join("__keep", " ").alias(text_col),
                    "n_tokens",
                    (F.col("n_tokens") - F.size("__keep"))
                    .cast("int").alias("n_removed")))


def hex_prefix_long_sql(expr: str, nchars: int = 8) -> str:
    """SQL expression string turning the first ``nchars`` hex chars of
    ``expr`` (an md5 hex column) into a non-negative BIGINT — using only
    ``instr``/``substr`` arithmetic that parses and evaluates IDENTICALLY
    in Spark SQL and DuckDB (neither ``conv`` nor hex casts are portable
    across the two). Shared between the engine and its oracle so shard
    assignment is value-checked by construction."""
    if not 1 <= nchars <= 15:
        # 15 hex digits still fit a signed 64-bit long; 16 do not
        raise ValueError("nchars must be in [1, 15]")
    terms = []
    for i in range(1, nchars + 1):
        mult = 16 ** (nchars - i)
        # BIGINT per term: 15 * 16^7 overflows INT32 under ANSI mode
        terms.append("CAST(instr('0123456789abcdef', "
                     f"substr({expr}, {i}, 1)) - 1 AS BIGINT) * {mult}")
    return "(" + " + ".join(terms) + ")"


def global_shuffle(df: DataFrame, id_col: str, *, seed: int = 0,
                   num_shards: int = 8, key_col: str = "sort_key",
                   shard_col: str = "shard",
                   pos_col: str = "pos") -> DataFrame:
    """Deterministic seeded corpus shuffle + shard layout — the
    training-order reproducibility primitive (charter extension; the
    fixed-shuffled-shards convention of T5/GPT-style pretraining runs:
    shuffle ONCE at prep time with a recorded seed, then stream shards
    sequentially; a new epoch order is a new seed, not a runtime RNG).

    Every row gets:
    - ``key_col``   md5(seed ':' id) — the portable shuffle key (md5 hex
                    is identical across Spark and DuckDB, the same
                    portability contract as ``corpus_mix``),
    - ``shard_col`` first-8-hex-chars of the key parsed to BIGINT
                    (``hex_prefix_long_sql``) mod ``num_shards`` —
                    uniform, seed-stable shard assignment,
    - ``pos_col``   1-based read position WITHIN the shard
                    (row_number over key, id).

    A training data loader that reads shard files in ``pos`` order
    reproduces the exact global order (shard-major) for that seed, on
    any engine, any partitioning, any run.

    Scale shape (100 TB): one narrow projection (key + shard) and ONE
    hash exchange on ``shard_col`` followed by ``num_shards``
    independent in-partition sorts — there is NO single global sort
    (the classic `ORDER BY rand()` anti-pattern serializes the corpus
    through one partition). md5 keys are uniform so shards are balanced
    by construction; choose ``num_shards`` >= cluster parallelism so
    every executor sorts ~corpus/num_shards bytes. The epoch-reshuffle
    cost is a re-run with a new seed — same one-exchange plan.
    Reference anchor: deterministic batch layout contract (py:233-241,
    fixed object layout per processed batch)."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    key = F.md5(F.concat_ws(
        ":", F.lit(str(seed)),
        F.col(id_col).cast("string")).cast("binary"))
    out = df.withColumn(key_col, key)
    shard_sql = (f"CAST({hex_prefix_long_sql(key_col)} % {num_shards} "
                 "AS INT)")
    out = out.withColumn(shard_col, F.expr(shard_sql))
    w = Window.partitionBy(shard_col).orderBy(key_col, id_col)
    return out.withColumn(pos_col, F.row_number().over(w))


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         id_col: str, text_col: str, n: int = 5,
                         broadcast_eval: bool = True) -> DataFrame:
    """Contamination AUDIT (the report sibling of ``decontaminate``,
    after the GPT-3 appendix-C / PaLM overlap studies): for every
    contaminated training document, not just THAT it overlaps the eval
    set but HOW MUCH and WITH WHOM:

    - ``n_overlap``      distinct word n-grams shared with ANY eval doc
    - ``n_total``        distinct word n-grams in the train doc
    - ``frac_overlap``   n_overlap / n_total (the "dirtiness" used to
                         pick flag-vs-drop thresholds; a 0.9 is a
                         verbatim benchmark copy, a 0.02 is a quoted
                         sentence)
    - ``top_eval_id``    the eval document sharing the MOST distinct
                         n-grams (ties -> smallest eval id)
    - ``top_eval_overlap`` that pairwise shared-n-gram count

    Only contaminated docs are returned (the report is an audit
    artifact, not a gate — compose with ``decontaminate`` for the
    drop).

    Scale shape: same as ``decontaminate`` — the eval side is tiny and
    broadcast, the train shingle scan is map-side semi-joined, so train
    never shuffles; every aggregation after the join keys only on the
    CONTAMINATED subset (a tiny fraction of a 100 TB corpus). n_total
    RIDES the shingle explode (r13 optimization round, guide §2.3/§2.4:
    one narrow long per exploded row, paid only on the rows that
    survive the broadcast semi-join) and comes out of the same per-doc
    aggregate as n_overlap — the operator scans train ONCE, where it
    previously ran a second full tokenize+shingle pass for a totals
    projection and joined it back (2 FileScan+explode subtrees -> 1,
    one join removed; exact same output — the ridden size is
    F.size of the identical distinct-shingle array)."""
    from serverless_data_pipeline_spark.operators.util import (
        spread_small_input,
    )
    train = spread_small_input(train)  # r13: see decontaminate
    # r14: split once (see decontaminate)
    t_sh = (train.select(F.col(id_col), tokens(text_col).alias("__t"))
            .select(F.col(id_col),
                    F.array_distinct(shingles_from_tokens("__t", n))
                    .alias("__shs"))
            .select(id_col, F.size("__shs").alias("__nt"),
                    F.explode("__shs").alias("__sh")))
    e_sh = (eval_df.select(F.col(id_col).alias("__eval_id"),
                           tokens(text_col).alias("__t"))
            .select("__eval_id",
                    F.explode(F.array_distinct(
                        shingles_from_tokens("__t", n))).alias("__sh")))
    if broadcast_eval:
        e_sh = F.broadcast(e_sh)
    joined = t_sh.join(e_sh, "__sh")
    per_doc = (joined.groupBy(id_col)
               .agg(F.countDistinct("__sh").alias("n_overlap"),
                    F.first("__nt").alias("n_total")))
    per_pair = (joined.groupBy(id_col, "__eval_id")
                .agg(F.count("*").alias("top_eval_overlap")))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("top_eval_overlap"), F.asc("__eval_id"))
    top = (per_pair.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1)
           .select(id_col, F.col("__eval_id").alias("top_eval_id"),
                   "top_eval_overlap"))
    # tiny ⋈ tiny: both sides aggregate the CONTAMINATED subset only.
    # The hint follows broadcast_eval: with a huge eval set the
    # contaminated set is unbounded too, and a forced broadcast of it
    # would be the driver-OOM variant of the same mistake — there the
    # plan degrades to a shuffled join gracefully, like decontaminate.
    return (per_doc.join(F.broadcast(top) if broadcast_eval else top,
                         id_col)
            .select(id_col,
                    F.col("n_overlap").cast("long"),
                    F.col("n_total").cast("long"),
                    F.round(F.col("n_overlap")
                            / F.col("n_total"), 6).alias("frac_overlap"),
                    F.col("top_eval_id"),
                    F.col("top_eval_overlap").cast("long")))


def token_budget_mix(df: DataFrame, group_col: str, id_col: str,
                     weight_col: str, *, alpha: float = 0.3,
                     target_weight: float | None = None) -> DataFrame:
    """Temperature mixing in WEIGHT space (tokens/chars/bytes), not doc
    counts — the higher-fidelity form of ``temperature_mix``: real
    mixture specs are stated in token budgets ("α-sample to 1T tokens"),
    and doc-count quotas mis-serve them whenever document length varies
    by group (a group of long documents would be over-sampled ~mean-
    length-fold). Same α rule, applied to group weight totals:
    ``p_g ∝ (w_g / W) ^ alpha`` with ``w_g = Σ weight_col`` over the
    group, quota_g = p_g · target (rounded to 6 before use — the same
    cross-engine pow-jitter guard as ``temperature_mix``).

    Membership: docs are taken in md5-ranked order while the running
    weight BEFORE the doc is inside the quota (first-fit with one
    overshoot — the last kept doc may cross the budget, which is the
    convention that guarantees every group keeps >= 1 document and
    never requires splitting a document). Cumulative weights are exact
    integer arithmetic when ``weight_col`` is integral, so membership
    is engine-portable. NULL groups are dropped (as in
    ``temperature_mix``); NULL weights count as 0.

    Returns kept rows + ``sample_rank``, ``cum_weight`` (inclusive) and
    the group ``quota_w``.

    Scale shape: identical to ``temperature_mix`` — one tiny |groups|
    aggregate broadcast back, ONE corpus-scale ranking window (the
    running sum shares the rank window's exchange and sort). No Python
    in the row path."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    if target_weight is not None and target_weight <= 0:
        # a non-positive budget would silently drop EVERY group (the
        # first-fit test `0 < quota` fails even for the first doc),
        # breaking the documented every-group-keeps->=1 law
        raise ValueError("target_weight must be > 0")
    wcol = F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    sizes = df.groupBy(group_col).agg(F.sum(wcol).alias("__w"))
    w_all = Window.partitionBy()
    wsum = F.sum(F.pow(F.col("__w"), F.lit(float(alpha)))).over(w_all)
    quota = (sizes
             .withColumn("__target",
                         F.lit(target_weight).cast("double")
                         if target_weight is not None
                         else F.sum("__w").over(w_all))
             # try_divide: with EVERY group zero-weight wsum is 0 and
             # ANSI plain division would kill the job; NULL quotas fall
             # through to the rank-1 keep below
             .withColumn("__p", F.try_divide(
                 F.pow(F.col("__w"), F.lit(float(alpha))), wsum))
             .withColumn("quota_w",
                         F.round(F.col("__p") * F.col("__target"), 6))
             .select(group_col, "quota_w"))
    order = F.md5(F.col(id_col).cast("string"))
    w_rank = (Window.partitionBy(group_col).orderBy(order, id_col)
              .rowsBetween(Window.unboundedPreceding,
                           Window.currentRow))
    w_rn = Window.partitionBy(group_col).orderBy(order, id_col)
    return (df.join(F.broadcast(quota), group_col)
            .withColumn("sample_rank", F.row_number().over(w_rn))
            .withColumn("cum_weight",
                        F.sum(F.coalesce(F.col(weight_col),
                                         F.lit(0))).over(w_rank))
            .filter(((F.col("cum_weight")
                      - F.coalesce(F.col(weight_col), F.lit(0)))
                     < F.col("quota_w"))
                    # a zero-weight group has quota_w 0 (and with ALL
                    # groups zero-weight, 0/0 -> NULL quotas): the
                    # first-fit test alone would silently drop the
                    # whole group — keep rank 1 unconditionally so the
                    # documented every-group-keeps->=1 law holds (for
                    # any positive quota rank 1 already passes, so
                    # this changes nothing else)
                    | (F.col("sample_rank") == 1)))


def repeat_by_epochs(df: DataFrame, group_col: str, id_col: str,
                     epochs: dict[str, float], *,
                     default_epochs: float = 1.0) -> DataFrame:
    """Quality-weighted epoch repetition — the upsampling half of a
    mixture recipe (the "head×3, middle×2, tail×1" convention: docs in
    better buckets are seen more times per training pass; the
    complement of down-sampling via ``corpus_mix``/``temperature_mix``).

    ``epochs`` maps group values (e.g. the X13 ``ppl_bucket``) to a
    possibly-FRACTIONAL epoch count: ``2.5`` repeats every doc twice
    and the md5-ranked top half of the group a third time — the
    deterministic form of "sample 50% for the extra epoch" (same
    quota machinery as ``corpus_mix``, so membership is stable and
    engine-portable). Groups absent from the map get
    ``default_epochs``; ``0`` drops a group.

    Output: one row per (doc, repetition) with ``epoch`` (0-based),
    ``n_epochs`` (this doc's total), and ``sample_rank`` (the md5 rank
    that decided fractional membership) — a downstream shuffle/pack
    step treats each repetition as an independent row.

    Scale shape: one broadcast of the |groups|-row epochs map, ONE
    per-group ranking window (shared with a window count for the
    group size), then an in-row ``sequence`` explode — output size is
    exactly ``Σ_g n_g · e_g`` rows, and nothing else shuffles."""
    if any(e < 0 for e in epochs.values()) or default_epochs < 0:
        raise ValueError("epoch counts must be >= 0")
    # the map's key column takes the FRAME's group type (a bucket can
    # be an int id as well as a label; a hardcoded string key would
    # make the equi-join cast or fail under ANSI)
    gtype = dict(df.dtypes).get(group_col, "string")
    emap = (df.sparkSession
            .createDataFrame([(k, float(v))
                              for k, v in sorted(epochs.items())],
                             f"{group_col} {gtype}, __e double"))
    joined = (df.join(F.broadcast(emap), group_col, "left")
              .withColumn("__e", F.coalesce(
                  "__e", F.lit(float(default_epochs)))))
    order = F.md5(F.col(id_col).cast("string"))
    w_rank = Window.partitionBy(group_col).orderBy(order, id_col)
    w_grp = Window.partitionBy(group_col)
    out = (joined
           .withColumn("sample_rank", F.row_number().over(w_rank))
           .withColumn("__n", F.count(F.lit(1)).over(w_grp))
           .withColumn("__base", F.floor("__e").cast("long"))
           # fractional epoch -> md5-top round(frac * n) rows get one
           # extra pass (round-6 first: cross-engine float jitter in
           # frac*n must not flip a quota boundary)
           .withColumn("__extra",
                       (F.col("sample_rank")
                        <= F.round(F.round((F.col("__e")
                                            - F.col("__base")), 6)
                                   * F.col("__n"), 0)).cast("long"))
           .withColumn("n_epochs",
                       (F.col("__base") + F.col("__extra"))
                       .cast("long"))
           .filter(F.col("n_epochs") > 0))
    return (out.withColumn(
                "epoch",
                F.explode(F.sequence(F.lit(0),
                                     (F.col("n_epochs") - 1)
                                     .cast("int"))))
            .drop("__e", "__n", "__base", "__extra"))


def corpus_datasheet(df: DataFrame, group_col: str = "source",
                     text_col: str = "text") -> DataFrame:
    """Per-group corpus datasheet (the "Datasheets for Datasets" /
    dataset-card summary a training-data release ships with): one row
    per ``group_col`` value carrying

    - ``n_docs``, ``total_tokens``, ``total_chars`` — volume;
    - ``n_distinct_fp`` and ``exact_dup_rate`` (1 - distinct
      fingerprints / docs, round-6) — redundancy, via the X1 canonical
      md5 fingerprint;
    - ``p50_tokens`` — the exact interpolated median document length;
    - ``mean_quality`` (round-6) — the X5 heuristic quality score.

    Scale shape: ONE narrow doc-grain projection (token count, length,
    fingerprint, quality are in-expression; no explode) followed by ONE
    groupBy on the group key — count_distinct gets Spark's two-phase
    partial_count treatment, and group cardinality (sources/languages)
    is tiny, so the shuffle moves one row per (partition, group). Runs
    at scan speed on 100 TB and composes with profile_columns (column-
    grain) and contamination_report (eval-grain) as the reporting
    family."""
    from serverless_data_pipeline_spark.functions.text import (
        quality_signal_count,
    )
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        token_count(text_col).alias("__tok"),
        F.length(text_col).cast("long").alias("__len"),
        fingerprint(text_col).alias("__fp"),
        quality_signal_count(text_col).alias("__q3"))
    return (per_doc.groupBy("grp")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("__tok").alias("total_tokens"),
                 F.sum("__len").alias("total_chars"),
                 F.count_distinct("__fp").alias("n_distinct_fp"),
                 F.round(1.0 - F.count_distinct("__fp").cast("double")
                         / F.count("*"), 6).alias("exact_dup_rate"),
                 F.round(F.expr("percentile(__tok, 0.5)"), 6)
                  .alias("p50_tokens"),
                 # exact integer accumulation (signal units / 3n) — a
                 # double avg's last ulp depends on partition order
                 F.round(F.sum("__q3").cast("double")
                         / (3.0 * F.count("*")), 6).alias("mean_quality"))
            .withColumnRenamed("grp", group_col))


def snapshot_diff(a: DataFrame, b: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: classify
    every document id as ``added`` (only in B), ``removed`` (only in
    A), ``modified`` (both, normalized-text fingerprints differ) or
    ``unchanged`` — the per-document companion of ``corpus_jaccard``'s
    corpus-level resemblance, and the first question a crawl-over-crawl
    changelog answers. Returns (id_col, status).

    One narrow fingerprint-grain aggregation per side + ONE full outer
    join keyed on the id — fingerprints (16-byte md5), never text,
    transit the shuffle. Edge cases, explicitly: NULL-id rows can't
    join reliably and are dropped from both sides (equi-join
    semantics); a NULL-text doc is PRESENT (presence is row existence,
    never inferred from the fingerprint, so NULL text can't
    masquerade as absence) and compares null-safely (NULL vs NULL =
    unchanged, NULL vs text = modified); duplicate ids within a
    snapshot collapse to their minimum fingerprint (a deterministic
    canonical answer for dirty inputs — dedup first if you need
    per-duplicate resolution)."""
    def side(df, out):
        return (df.filter(F.col(id_col).isNotNull())
                .groupBy(id_col)
                .agg(F.min(fingerprint(text_col)).alias(out)))
    fa, fb = side(a, "__fa"), side(b, "__fb")
    # presence flags ride the join; row existence, not fingerprint
    # NULL-ness, decides added/removed
    fa = fa.withColumn("__pa", F.lit(True))
    fb = fb.withColumn("__pb", F.lit(True))
    return (fa.join(fb, id_col, "full_outer")
            .select(F.col(id_col),
                    F.when(F.col("__pa").isNull(), F.lit("added"))
                     .when(F.col("__pb").isNull(), F.lit("removed"))
                     .when(F.col("__fa").eqNullSafe(F.col("__fb")),
                           F.lit("unchanged"))
                     .otherwise(F.lit("modified")).alias("status")))
