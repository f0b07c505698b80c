"""Near-duplicate operators (charter extension X2).

MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup —
the dedup toolbox of a large-scale training-data pipeline. X1 exact
keep-latest dedup is ``operators.relational.dedupe_latest``.

Scale design (the part that matters at 100 TB):
- NOTHING here compares all pairs. Every near-dup variant is
  candidate-generation (hash/band/bucket -> equi-join on bucket key)
  followed by exact verification on the candidate set only.
- All hashing is Spark's built-in xxhash64 (JVM, codegen) — deterministic
  across runs and executors, no Python in the hot path.
- Candidate joins are plain hash joins on (band, signature) keys; AQE
  handles the skew when a degenerate bucket appears (e.g. empty docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from serverless_data_pipeline_spark.functions.text import (
    shingles_from_tokens, tokens,
)

__all__ = [
    "minhash_signatures", "minhash_lsh_pairs",
    "simhash", "simhash_pairs", "ngram_jaccard_pairs",
    "embedding_neardup_pairs", "semantic_dedup", "neardup_components",
    "dedupe_by_components", "corpus_jaccard",
    "corpus_jaccard_minhash", "duplicate_ngram_fraction",
]


from serverless_data_pipeline_spark.operators.util import (
    release_checkpoint, spread_small_input as _spread,
)


def _tokens_of(df: DataFrame, text_col: str):
    """`text_col` may be a raw string column (tokenized here) or an
    already-tokenized array<string> column (used as-is) — for callers
    whose corpus is stored pre-tokenized.

    Deliberately NOT used to share tokenization across sketch flavours:
    the measured A/B (minhash+simhash union, sf0.1, interleaved
    min-of-3) is 1.65 s recomputing the regex split per flavour vs
    4.84 s reading a checkpointed (id, tokens) frame — materialized
    string arrays are wider than the source text and lose to codegen
    recompute, the same verdict as the banded-minhash-frame
    materialization (see minhash_lsh_pairs)."""
    from pyspark.sql.types import ArrayType

    if isinstance(df.schema[text_col].dataType, ArrayType):
        return F.col(text_col)
    return tokens(text_col)


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs: tokenize ONCE into a column, shingle from the
    materialized array, explode distinct."""
    base = _spread(df.select(F.col(id_col),
                             _tokens_of(df, text_col).alias("__toks")))
    return base.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_tokens("__toks", n)))
         .alias("__sh"))


def _ratio(threshold: float) -> tuple[int, int]:
    """The threshold as an exact small rational (num, den): the nearest
    fraction with denominator <= 10^6 — recovers the decimal the caller
    typed (0.4 -> 2/5) rather than its binary-float image, so pruning
    bounds are computed in integer arithmetic with zero rounding."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1_000_000)
    return fr.numerator, fr.denominator


def _ceil_mul(col, num: int, den: int):
    """Exact ceil(col * num / den) for a nonnegative integer column:
    ceil(a/b) = floor((a+b-1)/b), and the floor division is done by
    first stripping the remainder so the double divide acts on an exact
    multiple of den (exact up to 2^53 — sz <= 10^7 shingles times
    num <= 10^6 tops out at 10^13). The column is widened to LONG before
    the multiply: F.size() columns are 32-bit, and sz*num overflows int
    for large docs (ANSI mode kills the job; non-ANSI silently wraps
    negative, which would quietly disable all pruning)."""
    x = col.cast("long") * F.lit(num) + F.lit(den - 1)
    return ((x - F.pmod(x, F.lit(den))) / F.lit(den)).cast("long")


# ---------------------------------------------------------------- MinHash

# The one MinHash/LSH shape: word 3-gram shingles, 8 bands of 4 hashes.
# It is the persisted index's format, not a per-call choice: a probe
# reads signatures the index stored, so both must share it. A pair of
# Jaccard s becomes an LSH candidate with P = 1 - (1 - s^4)^8: 0.19 /
# 0.40 / 0.67 / 0.985 at s = 0.4 / 0.5 / 0.6 / 0.8 (the S-curve of
# Leskovec et al., "Mining of Massive Datasets" 3.4.3), so the default
# 0.5-0.6 thresholds sit on its steep part.
_SHINGLE_N = 3
_BANDS = 8
_ROWS_PER_BAND = 4
_NUM_HASHES = _BANDS * _ROWS_PER_BAND


def minhash_signatures(df: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """Per-document MinHash signature (``id_col``, ``sig``): word
    3-gram shingles -> 32 seeded xxhash64 values -> column-wise min,
    packed into one 64-byte ``binary`` (see ``_minhash_sig``; the shape
    is the module's ``_SHINGLE_N``/``_NUM_HASHES``). One explode + one
    groupBy(id): linear in total shingle count, never pairwise.

    The variable-length shingle string is hashed ONCE to a long; the
    hash family then re-hashes that fixed 8-byte value with the
    seed (collision only on a 2^-64 base-hash collision). Measured at the
    10x scale_check corpus: 5.0 s -> 4.1 s warm vs hashing the string
    per seed — the per-seed hash cost is width-bound."""
    shingled = (_shingled(df, id_col, text_col, _SHINGLE_N)
                .select(F.col(id_col), F.xxhash64("__sh").alias("__h0")))
    return shingled.groupBy(id_col).agg(_minhash_sig("__h0").alias("sig"))


def _minhash_sig(h0_col: str):
    """The packed MinHash signature aggregate over a column of base
    shingle hashes: seed i re-hashes the 8-byte base hash, and bytes
    2i..2i+1 of the ``binary`` result hold the LOW 16 bits of the group
    min, big-endian (b-bit minwise hashing, Li & Koenig, WWW 2010). The
    low bits, because the high bits of a signed 64-bit minimum are
    biased toward Long.MIN_VALUE. Two unequal minima agree by accident
    with probability 2^-16 per position; equal minima always agree, so
    a pair's matching-position count (its Jaccard estimate) never falls
    below the 64-bit signatures' count.

    Built as ONE SQL string: composing the same tree from Column calls
    costs ~56 py4j round trips per hash (0.15-0.22 s of driver time per
    build at 32 hashes), the string one parse."""
    return F.expr("unhex(concat(" + ", ".join(
        f"lpad(hex(min(xxhash64(`{h0_col}`, {i})) & 65535), 4, '0')"
        for i in range(_NUM_HASHES)) + "))")


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      jaccard_threshold: float = 0.5,
                      materialize_signatures: bool = False) -> DataFrame:
    """X2 — MinHash+LSH near-dup pairs. Band the signature (8 bands of 4
    hashes: the module's fixed shape), bucket-join on (band_id, band
    bytes), then verify candidates with the estimated Jaccard (matching
    minhash fraction).

    Signatures are 16-bit b-bit MinHash (``_minhash_sig``): 64 bytes per
    doc instead of 32 longs, so every banded row carries a 4x narrower ``sig``
    through the candidate shuffle. The change is one-sided: every pair
    the 64-bit minima would find is still found, with a ``jaccard_est``
    that is never lower; a pair gains at most an accidental 2^-16 match
    per position.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b. Cost: shingling
    scan + one self-join restricted to identical band buckets — the
    textbook sub-quadratic dedup used on web-scale corpora."""
    sig = minhash_signatures(df, id_col, text_col)
    if materialize_signatures:
        # Checkpoint the COMPACT per-doc signature (64 bytes/doc) so
        # both join sides read it instead of re-running the shingle
        # scan. Measured sf0.1 plain-docs scan: cold 5.7s ->
        # 2.7s, warm 2.0 -> 1.7. This is the right level — the r2
        # measurement that read 2.5x SLOWER materialized the BANDED
        # frame (x bands rows, sig carried per row), paying the width it
        # saved.
        sig = sig.localCheckpoint(eager=True)
    # Self-join note: without materialize_signatures the signature
    # pipeline is computed once per join side (Catalyst does not
    # canonicalize the two aliased sides into a ReusedExchange). The
    # materialization LEVEL decides the winner: checkpointing the wide
    # BANDED frame measured 2.5x SLOWER than recompute (86s vs 33s at
    # sf0.1 — sig carried on x bands rows), while checkpointing the
    # compact signature frame above measured ~2x FASTER cold. At cluster
    # scale, signatures reused across many queries belong in a persisted
    # parquet index (operators/incremental.corpus_index) instead.
    return _banded_pairs(sig, None, jaccard_threshold)


def _banded_pairs(a: DataFrame, b: DataFrame | None,
                  threshold: float) -> DataFrame:
    """The banded-LSH join over STORED signatures: ``a`` and ``b`` are
    (id, sig) frames, id first, ``sig`` a packed ``_minhash_sig`` of
    ``_NUM_HASHES`` 16-bit values. Each signature is cut into ``_BANDS``
    byte slices of ``_ROWS_PER_BAND`` values; docs sharing a (band,
    slice) bucket are candidates — the slice is the key, nothing is
    re-hashed — verified by the estimated Jaccard (the fraction of equal
    2-byte values).

    Returns (id_a, id_b, jaccard_est >= ``threshold``), id_a from ``a``
    and id_b from ``b``; ``b=None`` pairs ``a`` with itself, id_a < id_b.
    A NULL sig (a doc with no shingles) is never banded. The one banding
    scheme of ``minhash_lsh_pairs`` and the incremental index probe."""
    width = 2 * _ROWS_PER_BAND

    def banded(sigs: DataFrame) -> DataFrame:
        bks = [F.struct(F.lit(band).alias("band"),
                        F.substring("sig", band * width + 1, width)
                        .alias("bsig"))
               for band in range(_BANDS)]
        return (sigs.filter(F.col("sig").isNotNull())
                .select(F.col(sigs.columns[0]).alias("__id"), "sig",
                        F.explode(F.array(*bks)).alias("bk"))
                .select("__id", "sig", F.col("bk.band").alias("band"),
                        F.col("bk.bsig").alias("bsig")))

    left = banded(a)
    right = left if b is None else banded(b)
    cand = (left.alias("a").join(right.alias("b"), ["band", "bsig"])
            .select(F.col("a.__id").alias("id_a"),
                    F.col("a.sig").alias("sig_a"),
                    F.col("b.__id").alias("id_b"),
                    F.col("b.sig").alias("sig_b")))
    if b is None:
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    est = F.expr(
        f"size(filter(sequence(1, {2 * _NUM_HASHES - 1}, 2), "
        f"i -> substring(sig_a, i, 2) = substring(sig_b, i, 2)))"
    ).cast("double") / F.lit(float(_NUM_HASHES))
    return (cand.dropDuplicates(["id_a", "id_b"])
            .withColumn("jaccard_est", est)
            .filter(F.col("jaccard_est") >= threshold)
            .select("id_a", "id_b", "jaccard_est"))


# ---------------------------------------------------------------- SimHash

def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 64) -> DataFrame:
    """Per-document SimHash: each token hashes to `bits` bits; bit b of
    the fingerprint is the sign of Σ(±1) over tokens. Explode + groupBy —
    linear, no pairwise work.

    The per-bit counts are packed 3-to-a-long (21-bit lanes): one SUM
    accumulator carries three bit-counts, so the aggregation runs
    ceil(bits/3) buffers instead of `bits` and the partial-aggregate
    shuffle rows shrink from 64 to 23 longs per group (~3x less partial
    shuffle volume — the lever that matters on a cluster, where partials
    cross the network). The ±1 branch also becomes a branchless bit
    extract (sign(Σ±1) > 0 ⟺ 2·count_b > n). Honest local A/B at sf0.1
    (x_approx_suite.simhash, warm, min-of-3): 0.94 s → 0.92 s fingerprints,
    1.63 s → 1.81 s full pairs — flat within host noise; the r4 bench's
    3.3 s attribution to the 64 aggregates was contention, the local cost
    is the tokenize+explode scan either way. Kept for the shuffle-width
    reduction, not a local-time win. Lane capacity bounds tokens per
    document at 2^21-1 (~2M tokens ≈ >10 MB of text — beyond any sane
    document, but a giant concatenated crawl page can exceed it); a doc
    at or above the cap FAILS FAST with a raise_error naming the doc,
    because a silent lane carry would flip arbitrary fingerprint bits —
    pre-chunk or truncate such inputs upstream (passage/segment dedup
    and the hygiene operators all bound text length earlier in a real
    pipeline)."""
    lanes = 3
    lane_bits = 21
    lane_mask = (1 << lane_bits) - 1
    # Hash each token ONCE into a column — referencing xxhash64 inside all
    # aggregate expressions would re-hash per group. The lane-capacity
    # guard runs HERE, pre-aggregation: a 2^21-token doc would overflow
    # its lane inside the packed SUM itself (ANSI mode kills the job with
    # an opaque ARITHMETIC_OVERFLOW; non-ANSI silently corrupts bits), so
    # it must be rejected before any lane arithmetic happens.
    guarded = F.when(
        F.size("__toks") >= (1 << lane_bits),
        F.raise_error(F.concat(
            F.lit("simhash lane overflow: document "),
            F.col(id_col).cast("string"),
            F.lit(f" has >= 2^{lane_bits} tokens; "
                  "truncate or pre-chunk upstream")))
    ).otherwise(F.col("__toks"))
    tok = (_spread(df.select(F.col(id_col),
                             _tokens_of(df, text_col).alias("__toks")))
           .select(F.col(id_col), F.explode(guarded).alias("__t"))
           .select(F.col(id_col), F.xxhash64("__t").alias("__h")))
    # Pack/unpack expressions are generated as SQL STRINGS, one F.expr
    # per aggregate and one for the whole unpack: building them from
    # nested Column operators cost ~350 py4j round trips and 1.2-1.5 s
    # of driver-side PLAN CONSTRUCTION per call — more than the query's
    # own execution at sf0.1 (measured; exec unchanged either way).
    n_groups = (bits + lanes - 1) // lanes
    packed = []
    for g in range(n_groups):
        terms = [
            f"shiftleft(shiftrightunsigned(__h, {b}) & 1L, {j * lane_bits})"
            for j in range(lanes) if (b := g * lanes + j) < bits]
        packed.append(F.expr(f"sum({' | '.join(terms)})").alias(f"p_{g}"))
    agg = tok.groupBy(id_col).agg(F.count("*").alias("__n"), *packed)
    # Unpack in a narrow projection (cheap — no aggregation buffers):
    # bit b set ⟺ count_b*2 > n, identical to sign(Σ±1) > 0 incl. ties.
    bit_terms = []
    for b in range(bits):
        g, j = divmod(b, lanes)
        cnt = (f"(shiftrightunsigned(p_{g}, {j * lane_bits}) "
               f"& {lane_mask}L)")
        bit_terms.append(
            f"if({cnt} * 2L > __n, shiftleft(1L, {b}), 0L)")
    fp = F.expr(" | ".join(bit_terms))
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, chunks: int = 4) -> DataFrame:
    """X2 (SimHash flavour) — near-dup pairs within a Hamming radius.
    Candidate generation: split the 64-bit fingerprint into `chunks`
    16-bit pieces; by pigeonhole, any pair within Hamming distance
    < chunks must agree on at least one piece — join on (piece_idx,
    piece). Verify with bit_count(xor) <= max_hamming."""
    fps = simhash(df, id_col, text_col)
    piece = lambda c, i: F.shiftrightunsigned(F.col(c), i * 16).bitwiseAND(F.lit(0xFFFF))
    pieces = fps.select(
        F.col(id_col).alias("__id"), "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("pi"), piece("simhash", i).alias("pv"))
            for i in range(chunks)])).alias("p"))
    # Fingerprints compute once per join side; measured faster than
    # materializing first (see minhash_lsh_pairs note).
    pk = pieces.select("__id", "simhash",
                       F.col("p.pi").alias("pi"), F.col("p.pv").alias("pv"))
    return (pk.alias("a").join(pk.alias("b"), ["pi", "pv"])
              .select(F.col("a.__id").alias("id_a"),
                      F.col("a.simhash").alias("sh_a"),
                      F.col("b.__id").alias("id_b"),
                      F.col("b.simhash").alias("sh_b"))
              .filter(F.col("id_a") < F.col("id_b"))
              .dropDuplicates(["id_a", "id_b"])
              .withColumn("hamming",
                          F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
              .filter(F.col("hamming") <= max_hamming)
              .select("id_a", "id_b", "hamming"))


# ------------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_doc_freq: int | None = None,
                        materialize_index: bool = False,
                        positional_filter: bool = False) -> DataFrame:
    """X2 (exact Jaccard flavour) — pairs whose distinct word-n-gram sets
    have Jaccard >= threshold. Inverted-index join: explode distinct
    shingles, self-join on shingle, count common, |A∪B| = |A|+|B|-common.
    Candidate pairs are only those sharing >= 1 shingle — for n >= 2 on
    natural text this is FAR below quadratic.

    `max_doc_freq` is the scale guard: a single boilerplate shingle shared
    by 1M docs creates a 10^12-pair hot bucket in the self-join. With a
    document-frequency cap, shingles appearing in more than `max_doc_freq`
    docs are dropped from the index AND from the set sizes (standard
    high-df shingle pruning), bounding any bucket to max_doc_freq^2 pairs.
    None = exact Jaccard (small/oracle runs).

    Candidate generation uses EXACT prefix filtering (Bayardo et al.
    WWW'07 / Vernica et al. SIGMOD'10, the standard MapReduce
    set-similarity join): order every doc's shingles by global rarity
    (df asc, shingle asc — a deterministic total order) and index only the
    first `sz - ceil(t*sz) + 1` of them. J(A,B) >= t implies
    |A∩B| >= ceil(t*max(|A|,|B|)), and the prefix lemma then guarantees
    any qualifying pair collides on at least one indexed prefix shingle —
    so pruning is LOSSLESS for the given threshold. The win is that a
    doc's COMMONEST shingles (the ones that smash unrelated docs
    together) sort to the suffix and never enter the join: measured at
    the 10x-amplified scale_check corpus, the un-prefixed self-join built
    51.7M intermediate / 43.9M candidate pairs for 250k survivors (84 s);
    prefix filtering cuts candidates to the near-dup neighborhoods.
    Verification computes the exact intersection with one
    `array_intersect` per candidate over the per-doc sorted shingle
    arrays — two hash joins on the candidate list, no second inverted
    index pass.

    `materialize_index=True` checkpoints the per-doc shingle-set frame
    once (eager localCheckpoint): it feeds the prefix index and both
    verification sides, which Catalyst otherwise re-executes from the
    scan. Measured BOTH ways at sf0.1 — faster on a plain documents scan
    (the x2 registry entries use it), but SLOWER when the upstream is
    itself a multi-join subplan (x7's post-dedup frame), where the
    blocking RDD materialization costs more than the recompute it saves.
    Same verdict as the minhash banded frame (see minhash_lsh_pairs):
    measure per call site; at cluster scale, persistent reuse belongs in
    a parquet staging table, not an executor-memory checkpoint.

    `positional_filter=True` adds the remaining PPJoin pruning stages
    (Xiao et al. WWW'08) on top of the prefix gate: a length filter
    (min(sz) >= ceil(t*max(sz))) and the positional upper bound
    (overlap <= min(pa,pb) + min(sz_a-pa, sz_b-pb) must reach
    ceil(t/(1+t)*(sz_a+sz_b))), both applied pre-aggregation so pruned
    collision rows never enter the groupBy shuffle. Lossless (property-
    tested both ways vs the O(n^2) ground truth; identical 250 220-pair
    output at the 10x scale_check corpus) but MEASURED OFF by default:
    on the 10x amplified corpus the filters drop only 13% of pre-agg
    collision rows (27.0M -> 23.6M; near-dup variants share lengths, so
    the length filter is blind, and short prefixes make the positional
    bound loose) at a 17% wall-clock cost (interleaved min-of-3: 12.8 s
    on vs 10.9 s off), and on the natural sf0.1 corpus 15% of rows
    (579k -> 493k) for flat time (3.1 s both). Enable it for corpora
    with heterogeneous document lengths near the threshold boundary —
    that is where min(sz) >= ceil(t*max(sz)) bites — or when the
    candidate shuffle is network-bound rather than CPU-bound."""
    # Shingles ride as xxhash64 LONGS from here on: the prefix join key,
    # the sorted set arrays, and the array_intersect all work on 8-byte
    # ints instead of ~20-char strings — ~2.5x less shuffle volume and
    # cheaper equality in the verify stage (the dominant cost at the 10x
    # scale_check). A 64-bit collision would need ~2^32 distinct shingles
    # per doc pair to matter; the DuckDB oracle (exact strings) guards it.
    sh = (_shingled(df, id_col, text_col, n)
          .select(F.col(id_col).alias("__id"),
                  F.xxhash64("__sh").alias("__sh")))
    dfreq = sh.groupBy("__sh").agg(F.count("*").alias("__df"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("__df") <= max_doc_freq)
    # Per-doc shingle set as ONE array in global rarity order; sz is the
    # capped set size (cap drops the shingle from index AND sizes).
    sets = (sh.join(dfreq, "__sh")
            .groupBy("__id")
            .agg(F.sort_array(F.collect_list(F.struct("__df", "__sh")))
                  .alias("__arr"))
            .select("__id",
                    F.expr("transform(__arr, s -> s.__sh)").alias("__set"),
                    F.size("__arr").alias("sz")))
    if materialize_index:
        # r13: spread_checkpoint — the groupBy output AQE-coalesces to
        # 1-2 partitions at small scale, which would single-core the
        # prefix explode feeding the candidate self-join's map side.
        from serverless_data_pipeline_spark.operators.util import (
            spread_checkpoint,
        )
        sets = spread_checkpoint(sets)
    # c=2 prefix scheme (the PPJoin-family c-prefix lemma): with prefixes
    # ONE longer than the minimal sz - ceil(t*sz) + 1, any pair with
    # overlap >= alpha must share >= 2 prefix shingles whenever alpha >= 2
    # (and >= 1 always). Counting collisions instead of distinct-ing them
    # costs the same shuffle and lets the >= 2 gate kill the long tail of
    # pairs that touch on a single moderately-common shingle — measured at
    # the 10x scale_check corpus: 21.0M -> 0.70M candidates entering
    # verification for the same 250 220 survivors (pair-gen wall
    # 28.5 s -> 10.4 s; 84.6 s before any prefix filtering).
    # Every pruning bound below is EXACT integer arithmetic on the
    # threshold as a rational num/den. double ceil(sz*t) lands one too
    # HIGH whenever rounding pushes an exactly-integral product across
    # the next integer — none of the one-decimal thresholds exhibit it
    # below sz 2000 (swept), but it is threshold-dependent and a
    # one-too-high ceil OVER-prunes, i.e. silently drops qualifying
    # pairs. ceil(sz*num/den) via integer div removes the entire
    # failure class at no cost and stays tight (no epsilon slack); at
    # t=0.4 it reproduces the float bounds bit-for-bit (identical
    # 27.0M collision rows at the 10x corpus).
    t_num, t_den = _ratio(threshold)
    alpha = _ceil_mul(F.col("sz"), t_num, t_den)
    prefix_len = (F.col("sz") - alpha + 2).cast("int")
    prefix_sh = F.slice("__set", F.lit(1), prefix_len)
    if positional_filter:
        # The shingle's 1-based rank rides along ONLY when the
        # positional filter will read it — on the default path an unused
        # int per prefix row would widen both sides of the candidate
        # self-join shuffle for nothing.
        pref = sets.select("__id", "sz",
                           F.posexplode(prefix_sh).alias("__pos", "__sh"))
    else:
        pref = sets.select("__id", "sz", F.explode(prefix_sh).alias("__sh"))
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    # Positional filter (PPJoin, Xiao et al. WWW'08): a collision at
    # 1-based ranks (pa, pb) of the rarity-sorted sets bounds the true
    # overlap — elements before the collision are all < it in the total
    # order, elements after all > it, so
    #   overlap <= min(pa, pb) + min(sz_a - pa, sz_b - pb),
    # while J >= t needs overlap >= ceil(t/(1+t) * (sz_a + sz_b)) (the
    # tight pair bound; larger than ceil(t*max)). Applied PRE-aggregation:
    # for a QUALIFYING pair every collision's ubound >= true overlap >=
    # alpha_pair, so no collision of a qualifying pair is dropped and the
    # c=2 count gate below still sees all of them — lossless, and the
    # pruned collision rows never enter the groupBy shuffle.
    need2 = (F.greatest(_ceil_mul(F.col("sz_a"), t_num, t_den),
                        _ceil_mul(F.col("sz_b"), t_num, t_den))
             >= 2)
    cand_base = (pref.alias("a").join(pref.alias("b"), "__sh")
                 .filter(F.col("a.__id") < F.col("b.__id")))
    if positional_filter:
        pa, pb = F.col("a.__pos") + 1, F.col("b.__pos") + 1  # 1-based
        # Length filter: J >= t forces min(sz) >= ceil(t * max(sz)).
        length_ok = (F.least(sz_a, sz_b)
                     >= _ceil_mul(F.greatest(sz_a, sz_b), t_num, t_den))
        alpha_pair = _ceil_mul(sz_a + sz_b, t_num, t_num + t_den)
        ubound = F.least(pa, pb) + F.least(sz_a - pa, sz_b - pb)
        cand_base = cand_base.filter(length_ok).filter(ubound >= alpha_pair)
    cands = (cand_base
             .select(F.col("a.__id").alias("id_a"),
                     F.col("a.sz").alias("sz_a"),
                     F.col("b.__id").alias("id_b"),
                     F.col("b.sz").alias("sz_b"))
             .groupBy("id_a", "sz_a", "id_b", "sz_b")
             .agg(F.count("*").alias("__ncoll"))
             .filter(F.col("__ncoll") >= F.when(need2, 2).otherwise(1))
             .select("id_a", "id_b"))
    sa = sets.select(F.col("__id").alias("id_a"),
                     F.col("__set").alias("__set_a"),
                     F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("__id").alias("id_b"),
                     F.col("__set").alias("__set_b"),
                     F.col("sz").alias("sz_b"))
    return (cands.join(sa, "id_a").join(sb, "id_b")
            .withColumn("common",
                        F.size(F.array_intersect("__set_a", "__set_b")))
            .withColumn("jaccard",
                        F.col("common").cast("double")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b",
                    F.round("jaccard", 6).alias("jaccard")))


# ------------------------------------------------------- embedding near-dup

def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.95,
                            n_planes: int = 12,
                            seed: int = 42,
                            dim: int | None = None) -> DataFrame:
    """X2 (embedding flavour) — near-duplicate vectors by cosine >=
    threshold. Candidate generation is sign-LSH: `n_planes` seeded random
    hyperplanes -> a sign-bit bucket id; only same-bucket pairs are
    verified with exact cosine. High thresholds => near-identical vectors
    => same bucket with high probability; sub-quadratic by bucketing.
    Projections are driver-generated constants (seeded, deterministic);
    bucketing and verification run numpy kernels (one matmul / einsum per
    Arrow batch — the unrolled-SQL form cost 59 s at sf0.01 in round 2).

    Pass `dim` explicitly on anything big — the fallback inference runs a
    `.first()` driver action (an extra Spark job per call)."""
    import random

    from serverless_data_pipeline_spark.functions.vectors_np import (
        pair_cosine_udf, sign_buckets_udf,
    )

    rng = random.Random(seed)
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]

    bucketed = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        F.element_at(sign_buckets_udf([planes], dim)(F.col(vec_col)), 1)
         .alias("__bkt"))
    cos = F.nanvl(pair_cosine_udf(dim)(F.col("v_a"), F.col("v_b")),
                  F.lit(None).cast("double"))
    return (bucketed.alias("a").join(bucketed.alias("b"), "__bkt")
            .select(F.col("a.__id").alias("id_a"), F.col("a.__v").alias("v_a"),
                    F.col("b.__id").alias("id_b"), F.col("b.__v").alias("v_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", cos)
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cosine")))


# ------------------------------------------------- dedup-cluster grouping

# Label-prop rounds the "auto" mode spends before handing the unconverged
# residual to star. From the chain-depth sweep (table in the
# neardup_components docstring): budget 4 covers the diameter<=4 components
# that dominate real near-dup graphs at label-prop round cost, and caps the
# adversarial deep-chain case at 4 cheap rounds + star on a 4x-contracted
# residual. Raising it narrows the depth-8..16 hybrid valley but linearly
# taxes every deeper graph.
_AUTO_LP_ROUNDS = 4


def neardup_components(pairs: DataFrame, *,
                       id_a: str = "id_a", id_b: str = "id_b",
                       max_iter: int = 15,
                       algorithm: str = "auto") -> DataFrame:
    """Connected components over a near-dup pair list: (id, component_id)
    where component_id = MIN doc id reachable through any chain of pairs.
    This is the exact cluster semantics (greedy edge-drop in
    plans/corpus_pipeline.py is the cheap one-pass approximation).

    Distributed min-label propagation (the standard MapReduce CC
    iteration): every node repeatedly takes the min label among itself and
    its neighbours; converges in <= graph-diameter rounds. Near-dup graphs
    have tiny components (pairs/triples), so 3-4 rounds typical. Each
    round is one shuffle; `localCheckpoint` truncates lineage so the plan
    does not grow with iterations (required for any iterative job).

    Convergence is tested with a `limit(1).count()` probe (stops scanning
    at the first changed label) — but each probe is a full Spark job with
    fixed scheduling overhead, so the first probe fires only at round 3
    (near-dup components almost always have diameter <= 3) and every
    other round after; the final round always probes so the convergence
    warning below is accurate. Measured at sf0.1 this halves the CC
    job count vs probing every round. (Also measured and REJECTED:
    batching two propagation steps per checkpoint — warm 2.2s one-step
    vs 2.5s two-step at sf0.1; the deeper two-join plan costs more than
    the saved checkpoint job once the probe schedule already amortizes
    round overhead.)

    Warns (does not raise) if labels did not converge within `max_iter`
    — callers like dedupe_by_components would otherwise silently keep
    extra near-duplicates from an unfinished propagation.

    ``algorithm``:
    - ``"auto"`` (default): hybrid — run label propagation for up to
      ``_AUTO_LP_ROUNDS`` rounds (enough for the diameter <= 3..4
      components that dominate every near-dup graph), then, only if
      labels are still changing, CONTRACT the edge list by the current
      labels (each node replaced by its partial component minimum;
      internal edges become self-loops and vanish) and finish the tiny
      high-diameter residual with the star algorithm. The measured sweep
      (table below) picks the crossover: label_prop wins
      whenever components converge within its round budget — including
      the 250k-edge 10x scale_check graph (5.2-11.9 s vs 10.5-13.2 s
      star, three paired runs) — because its rounds are ~2x cheaper than
      star's two half-rounds; star wins only when diameter exceeds the
      round budget (a 40-deep chain: 39 label rounds vs 4 star rounds).
      Auto pays one extra convergence probe in the common case and never
      runs a deep propagation. Measured sweep (60k edges as parallel
      chains of depth d, local[32], one run each — ±30% host noise):

          depth       2     4     8     16    64
          label_prop  6.3   3.5   4.9   8.9   33.9
          star        5.6   6.2   6.4   8.1   9.7
          auto        3.0   3.2   9.5   10.4  12.9

      Auto tracks the winner at both extremes (the cases that matter:
      near-dup graphs are depth<=4; adversarial chains are deep) and
      stays within ~1.3x of the best pure mode in the 8-16 valley where
      the handoff cost peaks — while each pure mode is up to 2-3.5x off
      at its bad extreme.
    - ``"label_prop"``: min-label propagation. Cheapest per round
      (~3 shuffles) but needs diameter rounds, every round re-joining
      the FULL edge list.
    - ``"star"``: alternating large-star/small-star contraction (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
      public algorithm, re-derived here as DataFrame ops). Each round
      REWRITES the edge list to point at component minima, so the graph
      contracts as stars collapse; rounds are O(log^2 n) and late rounds
      run on near-star (tiny) edge lists. The scale path for dense,
      HIGH-DIAMETER graphs. Identical output (comp = min reachable id)
      for all three modes — pinned by tests/test_dedup.py equivalence
      tests."""
    # Materialize the pair list FIRST: it is tiny (it only names
    # near-dups), but its lineage is the whole candidate-generation plan
    # (shingle explode + self-join). Checkpointing here makes every
    # iteration (and the iteration plans Catalyst must re-analyze) operate
    # on a two-column leaf instead of re-carrying that plan. Measured at
    # sf0.1 this cuts total CC wall-clock ~3x.
    # Symmetrize in ONE pass over the candidate-generation plan (explode
    # both directions per pair) so a single checkpoint job materializes
    # the edge leaf — checkpointing the raw pair list first and unioning
    # its swap costs an extra blocking job for nothing (measured: two
    # jobs -> one, same pair-gen count).
    sym = (pairs.select(F.explode(F.array(
        F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))))
        .alias("e")).select("e.src", "e.dst"))
    edges = sym.distinct().localCheckpoint(eager=True)
    if algorithm == "star":
        return _components_star(edges, max_iter=max_iter)
    if algorithm not in ("label_prop", "auto"):
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    lp_budget = (min(max_iter, _AUTO_LP_ROUNDS)
                 if algorithm == "auto" else max_iter)
    # Init folds in the first propagation step: comp = min(self, direct
    # neighbours). Every node appears as src in the symmetrized edges.
    # NOT checkpointed: its lineage is one groupBy over the edge leaf —
    # re-analysis is trivial and iteration 0 checkpoints its successor.
    labels = (edges.groupBy("src").agg(F.min("dst").alias("__m"))
              .select(F.col("src").alias("id"),
                      F.least(F.col("src"), F.col("__m")).alias("comp")))
    # r14 (verdict #3, guide §1.2): the convergence probe is FOLDED into
    # the round's materializing action — the propagation select carries
    # a did-this-row-change flag, the checkpoint is taken lazily, and
    # ONE agg job both materializes the round's labels and returns the
    # changed-row count. The r13 schedule paid a separate probe-join
    # job on rounds 3,5,... and, because the first probe fired at round
    # 3, always ran >= 3 rounds even when labels converged in round 1;
    # convergence is now known (free) every round, so shallow near-dup
    # graphs — the common case — stop one to two full rounds earlier.
    # Values unchanged: converged labels are a fixpoint, so the rounds
    # the old schedule over-ran never changed anything.
    # Each round's leaf replaces the last, and once a round has run the
    # labels no longer read the edge leaf: both are released here, so a
    # caller holding the returned frame holds only the last round's leaf.
    changed: int | None = None
    done: DataFrame | None = None
    for it in range(lp_budget):
        nbr = (edges.join(labels, edges["dst"] == labels["id"])
               .groupBy("src").agg(F.min("comp").alias("__nbr")))
        new_comp = F.least(F.col("comp"),
                           F.coalesce(F.col("__nbr"), F.col("comp")))
        new = (labels.join(nbr, labels["id"] == nbr["src"], "left")
               .select(labels["id"], new_comp.alias("comp"),
                       (new_comp != F.col("comp")).alias("__chg"))
               .localCheckpoint(eager=False))
        changed = (new.agg(F.sum(F.col("__chg").cast("int")))
                   .first()[0] or 0)
        if done is not None:
            release_checkpoint(done)
        done = new
        labels = new.select("id", "comp")
        if changed == 0:
            break
    if changed != 0:
        if algorithm == "auto":
            # High-diameter residual: contract the edge list by the
            # partial labels (each endpoint -> its current component
            # minimum; intra-cluster edges become self-loops and
            # vanish), then finish with star on the contracted graph —
            # it holds ONLY the components whose diameter exceeded the
            # label-prop budget, which on near-dup graphs is a vanishing
            # fraction of the corpus. Exactness: a partial label is the
            # min id within lp_budget hops, so the true component min m
            # keeps comp(m) = m, survives contraction as a node, and
            # star returns it as the contracted component's minimum.
            lbl_s = labels.select(F.col("id").alias("src"),
                                  F.col("comp").alias("__cs"))
            lbl_d = labels.select(F.col("id").alias("dst"),
                                  F.col("comp").alias("__cd"))
            resid = (edges.join(lbl_s, "src").join(lbl_d, "dst")
                     .select(F.col("__cs").alias("src"),
                             F.col("__cd").alias("dst"))
                     .filter(F.col("src") != F.col("dst"))
                     .distinct().localCheckpoint(eager=True))
            if done is not None:
                release_checkpoint(edges)
            fin = _components_star(resid, max_iter=max_iter)
            return (labels.join(
                        fin.select(F.col("id").alias("comp"),
                                   F.col("component_id").alias("__f")),
                        "comp", "left")
                    .select("id", F.coalesce("__f", "comp")
                            .alias("component_id")))
        import warnings

        warnings.warn(
            f"neardup_components: labels still changing after {max_iter} "
            "iterations — a component's diameter exceeds max_iter and the "
            "returned component_ids are NOT fully propagated; raise "
            "max_iter.", RuntimeWarning, stacklevel=2)
    if done is not None:
        release_checkpoint(edges)
    return labels.select(F.col("id"), F.col("comp").alias("component_id"))


def _components_star(p: DataFrame, *, max_iter: int = 15) -> DataFrame:
    """Alternating large-star/small-star connected components over a
    checkpointed SYMMETRIZED (src, dst) edge list (both directions
    present; see neardup_components); returns (id, component_id) with
    component_id = min reachable id — same contract as label propagation.

    One round = large-star then small-star:
    - large-star(u): every neighbor v > u re-points to m = min(N(u) ∪ u);
    - small-star(u): every neighbor v <= u re-points to m, plus (u, m).
    The edge list is REWRITTEN each half-round (contracting toward star
    graphs rooted at component minima) instead of re-joined in full like
    label propagation, which is what keeps dense graphs tractable.
    Converged when a full round is a fixed point of the edge set; the
    fixed point is exactly the union of component stars."""

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))

    # Input is a symmetric checkpointed leaf: every node appears as src,
    # so node extraction needs no union, and the self-loop filter rides
    # on the leaf without another checkpoint.
    edges = p.filter(F.col("src") != F.col("dst"))
    nodes = p.select(F.col("src").alias("id")).distinct()
    # r14 (verdict #3, guide §1.2): fold the probes into the
    # materializing actions — the half-round checkpoints are taken
    # lazily and a single count() job materializes each AND yields the
    # fixed-point count gate; the previous round's count is remembered
    # instead of re-counted. 4 driver jobs per round -> 2 (+ the exact
    # set-diff probe only when the counts agree, as before).
    # Each round's leaves are released once its successor is
    # materialized (as label propagation does): the returned frame reads
    # only the input leaf ``p`` (the nodes) and the last round's edges.
    start = edges
    n_edges = edges.count()
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        sym = _sym(edges)
        mins = (sym.groupBy("src").agg(F.min("dst").alias("__md"))
                .select("src", F.least("src", "__md").alias("__m")))
        large = (sym.filter(F.col("dst") > F.col("src"))
                 .join(mins, "src")
                 .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
                 .filter(F.col("src") != F.col("dst")).distinct()
                 .localCheckpoint(eager=False))
        large.count()  # materialize (large feeds both _sym halves)
        small_n = _sym(large).filter(F.col("dst") <= F.col("src"))
        mins2 = small_n.groupBy("src").agg(F.min("dst").alias("__m"))
        new = (small_n.join(mins2, "src")
               .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
               .union(mins2.select("src", F.col("__m").alias("dst")))
               .filter(F.col("src") != F.col("dst")).distinct()
               .localCheckpoint(eager=False))
        n_new = new.count()  # materialize + fixed-point count gate
        if n_new == n_edges:
            converged = (new.exceptAll(edges).limit(1).count() == 0)
        release_checkpoint(large)
        if edges is not start:
            release_checkpoint(edges)
        edges, n_edges = new, n_new
    if not converged:
        import warnings

        warnings.warn(
            f"_components_star: edge set still contracting after "
            f"{max_iter} rounds — returned component_ids may be "
            "unpropagated; raise max_iter.", RuntimeWarning, stacklevel=3)
    # At the fixed point every non-root points straight at its component
    # min; roots appear only as dst (or not at all for isolated nodes —
    # excluded here since every pair-list node has a neighbor).
    comp = edges.groupBy("src").agg(F.min("dst").alias("component_id"))
    return (nodes.join(comp, nodes["id"] == comp["src"], "left")
            .select("id", F.coalesce("component_id", "id")
                    .alias("component_id")))


def dedupe_by_components(docs: DataFrame, pairs: DataFrame, id_col: str,
                         **cc_kwargs) -> DataFrame:
    """Keep one canonical doc (the MIN id) per near-dup component; docs in
    no pair pass through untouched. The pair list is always a tiny
    fraction of the corpus (it only names near-dups), so the component
    map broadcasts in the anti-join at any corpus scale."""
    comp = neardup_components(pairs, **cc_kwargs)
    losers = (comp.filter(F.col("id") != F.col("component_id"))
              .select(F.col("id").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str, *,
                   threshold: float = 0.9, n_clusters: int = 16,
                   dim: int | None = None, seed: int = 42,
                   centroids: list[list[float]] | None = None,
                   max_iter: int = 10,
                   max_cluster_size: int = 8192) -> DataFrame:
    """X2 (semantic flavour) — SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then inside each
    cluster greedily drop every item whose cosine to an already-kept item
    exceeds `threshold`, processing items farthest-from-centroid first
    (the paper's best-performing keep rule). Catches the paraphrase /
    re-encode / translation duplicates that share no n-grams — the
    semantic complement of the lexical sketch flavours.

    Scale shape: the codebook is trained once (pass `centroids` from an
    offline `train_ivf_centroids` run, the 100 TB path) and broadcasts as
    a plain constant; cell assignment is one narrow Arrow-batched matmul
    pass; the ONLY shuffle groups by cluster id; the quadratic
    verification is confined within a cluster, so `n_clusters` is the
    scale lever (the paper runs 50k clusters at LAION scale). A cluster
    larger than `max_cluster_size` raises instead of silently going
    quadratic — raise `n_clusters`, not the cap (which also bounds kernel
    memory: the within-cluster cosine matrix is c^2 doubles, ~0.5 GB at
    the 8192 default). The whole pass is deterministic and
    partition-independent: in-line training samples by a seeded hash
    order of `id_col`, the greedy scan orders by (centroid_sim, id), and
    dup_of ties break to the earliest kept item.

    In-line training (no `centroids`) is ONE Spark job at construction:
    the bounded k-means sample of at most 256 x `n_clusters` vectors
    (`similarity._training_sample`, fitted by `_kmeans` on the driver),
    with an `Observation` on the same job that counts the input rows and
    NULL vectors. A size rule with no setting follows from that count:
    when the input has at most 256 x `n_clusters` rows, the sample IS the
    input, so cell assignment and the within-cluster scan run on the
    driver over the collected vectors and the result is a local frame
    built from an Arrow table — no shuffle and no Python worker (a cold
    one costs seconds). The driver path runs the same arithmetic: the
    same numpy cell assignment as the Arrow kernel (`argmax_cells`) and
    the same `_cluster_dedup` on the same float64 values, so its rows
    equal the distributed path's under the same codebook. They are
    equal bit for bit while numpy's BLAS runs one thread, as in Spark's
    Python workers (a default local session starts them with
    OMP_NUM_THREADS=1); a multi-threaded driver BLAS splits a large
    cluster's products differently and may move a float in its last
    place (sf0.1 x10 on a 4-core host, 160 clusters: 79 of 20,000
    `centroid_sim` values, with every cell, keep and dup_of equal). The path does not depend on
    the session's Arrow setting: an Arrow table becomes a frame without
    `spark.sql.execution.arrow.pyspark.enabled` (a pandas frame with
    Arrow off would fall back to a Python worker, still correct). Above
    the bound, and whenever `centroids` are passed, the distributed path
    runs.

    Returns one row per input: (id, cluster_id, centroid_sim, keep,
    dup_of, dup_sim); dropped rows point at their kept representative.
    `dim` defaults to the codebook's width. An empty input returns an
    empty result; a NULL vector raises a ValueError that names it."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from serverless_data_pipeline_spark.functions.vectors_np import (
        argmax_cell_udf, argmax_cells,
    )
    from serverless_data_pipeline_spark.operators.similarity import (
        _POINTS_PER_CENTROID, _kmeans, _training_sample,
    )

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("cluster_id", T.IntegerType()),
        T.StructField("centroid_sim", T.DoubleType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("dup_of", id_type),
        T.StructField("dup_sim", T.DoubleType()),
    ])

    sample = None  # (ids, vectors) when the sample holds the whole input
    if centroids is None:
        # The training sample is the only job. Its Observation sees every
        # input row (it sits above any join in `df`, so an empty side
        # pruned below it still reports 0): an EMPTY frame, which the
        # corpus pipeline produces when the embeddings-vs-live-docs
        # semi-join comes back empty, returns an empty result.
        bound = _POINTS_PER_CENTROID * n_clusters
        seen = Observation()
        rows = df.select(id_col, vec_col).observe(
            seen, F.count(F.lit(1)).alias("n"),
            F.count_if(F.col(vec_col).isNull()).alias("nulls"))
        try:
            x, ids = _training_sample(rows, vec_col, id_col, bound, seed,
                                      "semantic_dedup")
        except ValueError:
            # no non-NULL vector; with every vector NULL and no `dim`,
            # the sampler's message is the one that can name the cause
            if seen.get["n"] and dim is None:
                raise
            x, ids = np.empty((0, dim or 0)), []
        n_rows, n_null = seen.get["n"], seen.get["nulls"]
        if dim is None:
            dim = x.shape[1]
        if n_null:
            raise ValueError(f"a NULL vector reached a {dim}-dim kernel")
        if n_rows == 0:
            return _arrow_frame(df.sparkSession, pd.DataFrame(
                {f.name: [] for f in out_schema.fields}), out_schema)
        centroids = _kmeans(x, n_clusters, np.random.default_rng(seed),
                            max_iter).tolist()
        if n_rows <= bound:
            sample = (ids, x)
    if dim is None:
        dim = len(centroids[0])
    cents = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cents, axis=1)
    cents_n = cents / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]

    def _cluster_dedup(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        c = len(pdf)
        if c > max_cluster_size:
            raise ValueError(
                f"semantic_dedup cluster {key[0]} has {c} members > "
                f"max_cluster_size={max_cluster_size}; raise n_clusters")
        # Canonical row order BEFORE any arithmetic: BLAS accumulation is
        # row-order-sensitive in the last ulp, and partitioning changes
        # the arrival order — sorting by id makes every float bit-stable.
        pdf = pdf.sort_values("__id", kind="mergesort")
        m = np.stack(pdf["__v"].map(
            lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        norms = np.linalg.norm(m, axis=1)
        mn = m / np.where(norms == 0.0, 1.0, norms)[:, None]
        csim = mn @ cents_n[int(key[0])]
        ids = pdf["__id"].to_numpy()
        # farthest-from-centroid first; id tiebreak for determinism
        order = np.lexsort((ids, csim))
        sims = mn @ mn.T
        keep = np.zeros(c, dtype=bool)
        dup_of = [None] * c
        dup_sim = np.full(c, np.nan)
        kept: list[int] = []
        for i in order:
            if kept:
                s = sims[i, kept]
                j = int(np.argmax(s))
                if s[j] > threshold:
                    dup_of[i] = ids[kept[j]]
                    dup_sim[i] = s[j]
                    continue
            keep[i] = True
            kept.append(i)
        return pd.DataFrame({
            id_col: ids, "cluster_id": int(key[0]),
            "centroid_sim": csim, "keep": keep,
            "dup_of": pd.Series(dup_of, dtype=object),
            # object dtype so kept rows surface as NULL, not NaN
            "dup_sim": pd.Series(
                [None if k else float(s)
                 for k, s in zip(keep, dup_sim)], dtype=object),
        })

    if sample is not None:
        ids, x = sample
        pdf = pd.DataFrame({"__id": ids, "__v": list(x),
                            "__cell": argmax_cells(centroids)(x)})
        return _arrow_frame(df.sparkSession, pd.concat(
            [_cluster_dedup((cell,), part)
             for cell, part in pdf.groupby("__cell")],
            ignore_index=True), out_schema)
    assigned = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        argmax_cell_udf([list(map(float, c)) for c in centroids], dim)(
            F.col(vec_col)).alias("__cell"))
    return (assigned.groupBy("__cell")
            .applyInPandas(_cluster_dedup, out_schema))


def _arrow_frame(spark, pdf, schema) -> DataFrame:
    """A local frame of `pdf`'s rows, built from an Arrow table: a
    JVM-side local relation, so reading it starts no Python worker
    whatever the session's Arrow setting (`createDataFrame` over rows,
    or over pandas with Arrow off, goes through a Python RDD)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), schema)


def corpus_jaccard(a: DataFrame, b: DataFrame, text_col: str = "text",
                   shingle_n: int = 3) -> DataFrame:
    """EXACT corpus-level resemblance (Broder 1997's set resemblance at
    dataset grain): the Jaccard similarity of two corpora's distinct
    word-shingle sets — the dataset-versioning / crawl-diff statistic
    ("how much of snapshot B is already in snapshot A?"). Returns one
    row: (n_a, n_b, n_intersection, n_union, jaccard, containment_a_in_b,
    containment_b_in_a), containments being |A∩B|/|A| and /|B|.

    Scale shape: one distinct-shingle aggregation per corpus (the
    shuffles), one tagged union + re-aggregation keyed on the shingle
    hash — set sizes via exact counts, no pairwise work. For 100 TB
    snapshots where even distinct shingles are huge, use
    ``corpus_jaccard_minhash`` (one scan per corpus, NO shuffle beyond
    a scalar aggregate)."""
    def sides(df, tag):
        tagged = df.select(F.lit(tag).alias("__cid"),
                           F.col(text_col))
        return (_shingled(tagged, "__cid", text_col, shingle_n)
                .select(F.xxhash64("__sh").alias("__h")).distinct()
                .select("__h", F.lit(tag).alias("__t")))
    both = sides(a, 1).unionAll(sides(b, 2))
    per = (both.groupBy("__h")
           .agg(F.sum("__t").alias("__m")))   # 1=A only, 2=B only, 3=both
    return (per.agg(
        F.count(F.when(F.col("__m") != 2, 1)).alias("n_a"),
        F.count(F.when(F.col("__m") != 1, 1)).alias("n_b"),
        F.count(F.when(F.col("__m") == 3, 1)).alias("n_intersection"),
        F.count(F.lit(1)).alias("n_union"))
        .select("n_a", "n_b", "n_intersection", "n_union",
                F.round(F.col("n_intersection")
                        / F.col("n_union"), 6).alias("jaccard"),
                F.round(F.col("n_intersection")
                        / F.col("n_a"), 6).alias("containment_a_in_b"),
                F.round(F.col("n_intersection")
                        / F.col("n_b"), 6).alias("containment_b_in_a")))


def corpus_jaccard_minhash(a: DataFrame, b: DataFrame,
                           text_col: str = "text", *,
                           num_hashes: int = 128,
                           shingle_n: int = 3) -> float:
    """MinHash ESTIMATE of corpus-level Jaccard: each corpus reduces to
    one num_hashes-long signature of GLOBAL minimums (one narrow scan +
    one scalar aggregate per corpus — nothing shuffles on shingles),
    and the estimate is the fraction of agreeing components — Broder's
    resemblance estimator with standard error ~1/sqrt(num_hashes).
    This is the 100 TB path: cost is a scan, state is num_hashes longs.

    Returns the scalar estimate (driver-side: the two signatures are
    num_hashes values each — control-plane sized). When BOTH corpora
    have an empty shingle set, resemblance is undefined and ``None``
    is returned — matching the exact ``corpus_jaccard``'s NULL at
    n_union = 0 (a naive component-agreement count would see all-NULL
    signatures agree and report a spurious 1.0)."""
    def sig(df):
        tagged = df.select(F.lit(0).alias("__cid"), F.col(text_col))
        h0 = (_shingled(tagged, "__cid", text_col, shingle_n)
              .select(F.xxhash64("__sh").alias("__h0")))
        row = h0.agg(*[F.min(F.xxhash64(F.col("__h0"), F.lit(i)))
                       .alias(f"m{i}")
                       for i in range(num_hashes)]).first()
        return [row[f"m{i}"] for i in range(num_hashes)]
    sa, sb = sig(a), sig(b)
    if sa[0] is None and sb[0] is None:
        return None
    return sum(1 for x, y in zip(sa, sb)
               if x == y and x is not None) / float(num_hashes)


def duplicate_ngram_fraction(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", *,
                             n: int = 5,
                             max_doc_freq: int | None = None,
                             emit_exact: bool = False) -> DataFrame:
    """Cross-document duplicated-n-gram fraction (the corpus-health
    metric of Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better" §5 / the Gopher rules' train-set variant):
    for each document, the fraction of its DISTINCT word n-grams that
    occur in at least one OTHER document. High values flag boilerplate
    and syndicated content that per-doc repetition signals
    (``repetition_signals``) cannot see, and the corpus-level mean is
    the standard before/after-dedup report number.

    Returns ``df`` + ``n_ngrams`` (distinct n-grams in the doc),
    ``dup_ngrams`` (those shared with another doc) and
    ``dup_ngram_frac`` (round-6 ratio; NULL when the doc has no
    n-grams). A shingle is "shared" iff its doc-frequency >= 2 —
    per-doc multiplicity is collapsed BEFORE counting (array_distinct,
    narrow) so a doc repeating its own phrase doesn't flag itself.

    ``max_doc_freq`` (r8, the ``ngram_jaccard_pairs`` hot-shingle
    lever): when set, shingles whose doc-frequency EXCEEDS it are
    treated as corpus-level boilerplate (a copyright line shared by
    millions of pages) and excluded from BOTH counts — an explicit,
    documented approximation: the fraction then reads "of this doc's
    non-boilerplate n-grams, how many are shared", which is usually
    the number a curator wants anyway (ubiquitous strings carry no
    dedup signal, and their doc lists are exactly what blows up at
    100 TB). Default None = the exact Lee et al. metric.
    ``emit_exact`` (requires ``max_doc_freq``): ALSO emit the uncapped
    counts as ``n_ngrams_exact``/``dup_ngrams_exact`` — both report
    variants are simple conditional counts over the same joined rows,
    so one shingle pipeline serves both (the x12 registry row reads
    its exact and capped arms off a single pass this way).

    Scale shape: distinct shingles explode to (doc, hash64) rows —
    two keyed shuffles (doc-frequency groupBy with map-side combine,
    then the flag join back on the hash) plus one doc-grain groupBy;
    never pairwise, never a driver round-trip. Shingles travel as
    xxhash64 longs, not strings (8-byte shuffle keys; the same
    collision trade ``corpus_jaccard`` documents). The doc-frequency
    side is filtered to ``__dc >= 2`` BEFORE the join — singleton
    shingles (the vast majority of a healthy corpus) never enter the
    join's build side, and a missing match simply means "unique"
    (left join, exact same semantics, strictly less shuffle). The
    hot-key join (a boilerplate shingle shared by millions of docs)
    is many-left-rows x one-right-row — AQE skew-split handles it."""
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ValueError("max_doc_freq must be >= 1")
    if emit_exact and max_doc_freq is None:
        raise ValueError("emit_exact requires max_doc_freq")
    # r14 (guide §2.3/§4.2): tokenize into a column first — the inline
    # `tokens()` expression re-ran the split inside every slice/size
    # reference of the shingle chain (~9 splits per row).
    sh = (df.select(F.col(id_col), tokens(text_col).alias("__t"))
          .select(
            F.col(id_col),
            F.explode(F.array_distinct(
                shingles_from_tokens("__t", n))).alias("__sh"))
          .select(F.col(id_col), F.xxhash64("__sh").alias("__h")))
    dc = (sh.groupBy("__h").agg(F.count("*").alias("__dc"))
          .filter(F.col("__dc") >= 2))
    keep = (F.lit(True) if max_doc_freq is None
            else F.col("__dc").isNull()
            | (F.col("__dc") <= max_doc_freq))
    dup = keep & F.col("__dc").isNotNull()
    aggs = [F.count(F.when(keep, 1)).alias("n_ngrams"),
            F.count(F.when(dup, 1)).alias("dup_ngrams")]
    if emit_exact:
        aggs += [F.count("*").alias("n_ngrams_exact"),
                 F.count(F.when(F.col("__dc").isNotNull(), 1))
                 .alias("dup_ngrams_exact")]
    per = sh.join(dc, "__h", "left").groupBy(id_col).agg(*aggs)
    out = (df.join(per, id_col, "left")
           .withColumn("n_ngrams",
                       F.coalesce("n_ngrams", F.lit(0).cast("long")))
           .withColumn("dup_ngrams",
                       F.coalesce("dup_ngrams", F.lit(0).cast("long")))
           .withColumn("dup_ngram_frac",
                       F.when(F.col("n_ngrams") > 0,
                              F.round(F.col("dup_ngrams")
                                      / F.col("n_ngrams"), 6))))
    if emit_exact:
        out = (out.withColumn("n_ngrams_exact",
                              F.coalesce("n_ngrams_exact",
                                         F.lit(0).cast("long")))
               .withColumn("dup_ngrams_exact",
                           F.coalesce("dup_ngrams_exact",
                                      F.lit(0).cast("long"))))
    return out
