"""X8 training-corpus utilities: split determinism/uniformity,
vocabulary ranking, sequence-packing invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_data_pipeline_spark.operators.corpus import (
    chunk_documents, corpus_mix, pack_sequences, train_test_split,
    vocabulary,
)


def test_train_split_deterministic_and_exhaustive(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = train_test_split(df, "doc_id").collect()
    b = train_test_split(df, "doc_id").collect()
    assert sorted((r.doc_id, r.split_id) for r in a) == \
        sorted((r.doc_id, r.split_id) for r in b)
    assert all(0 <= r.split_id < 10 for r in a)
    assert all(r.split == ("train" if r.split_id < 8 else "eval") for r in a)


def test_train_split_hashed_is_roughly_uniform(spark):
    # Sequential ids: modulo mode is perfectly uniform by construction;
    # the hashed (production) mode must stay close to 80/20 through the
    # avalanche hash, not collapse onto a few buckets.
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    frac = (train_test_split(df, "doc_id", hashed=True)
            .filter(F.col("split") == "train").count()) / 2000.0
    assert 0.74 <= frac <= 0.86, frac


def test_train_split_hashed_stable_under_growth(spark):
    # Growing the corpus must never reassign an existing id (the property
    # randomSplit lacks).
    small = train_test_split(
        spark.range(0, 100).withColumnRenamed("id", "doc_id"), "doc_id")
    big = train_test_split(
        spark.range(0, 500).withColumnRenamed("id", "doc_id"), "doc_id")
    s = {r.doc_id: r.split_id for r in small.collect()}
    b = {r.doc_id: r.split_id for r in big.collect()}
    assert all(b[k] == v for k, v in s.items())


def test_chunk_documents_overlap_and_coverage(spark):
    text = "abcdefghij"  # 10 chars; chunk 4, overlap 2 -> starts 1,3,5,7,9
    df = spark.createDataFrame([(1, text), (2, "")],
                               "doc_id long, text string")
    rows = chunk_documents(df, "doc_id", "text",
                           chunk_chars=4, overlap_chars=2).collect()
    got = {(r.doc_id, r.chunk_id): (r.chunk_start, r.chunk_text)
           for r in rows}
    assert got[(1, 0)] == (1, "abcd")
    assert got[(1, 1)] == (3, "cdef")
    assert got[(1, 4)] == (9, "ij")          # short remainder kept
    # every char covered; consecutive chunks share exactly the overlap
    assert got[(1, 1)][1][:2] == got[(1, 0)][1][2:]
    assert got[(2, 0)] == (1, "")            # empty doc -> one empty chunk
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_chars=4, overlap_chars=4)


def test_corpus_mix_quota_and_whitelist(spark):
    df = (spark.range(0, 300).withColumnRenamed("id", "doc_id")
          .withColumn("grp", F.when(F.col("doc_id") < 200, "big")
                              .when(F.col("doc_id") < 280, "small")
                              .otherwise("excluded")))
    out = corpus_mix(df, "grp", "doc_id", {"big": 0.25, "small": 1.0})
    per = {r.grp: r.n for r in
           out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert per == {"big": 50, "small": 80}  # ceil(0.25*200), all of small
    # ranks are a dense 1..quota per group
    ranks = sorted(r.sample_rank for r in
                   out.filter(F.col("grp") == "big").collect())
    assert ranks == list(range(1, 51))


def test_corpus_mix_deterministic_and_stable_subset(spark):
    # Same input -> identical kept set; halving the quota keeps a strict
    # prefix of the md5 ranking (monotone mixtures never resample).
    df = (spark.range(0, 400).withColumnRenamed("id", "doc_id")
          .withColumn("grp", F.lit("g")))
    half = {r.doc_id for r in
            corpus_mix(df, "grp", "doc_id", {"g": 0.5}).collect()}
    again = {r.doc_id for r in
             corpus_mix(df, "grp", "doc_id", {"g": 0.5}).collect()}
    quarter = {r.doc_id for r in
               corpus_mix(df, "grp", "doc_id", {"g": 0.25}).collect()}
    assert half == again and len(half) == 200
    assert quarter < half and len(quarter) == 100


def test_vocabulary_ranking_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "b a b c"), (2, "a b  c"), (3, "")],
        "doc_id long, text string")
    got = [(r.token, r.n) for r in vocabulary(df, "text", top_n=2).collect()]
    assert got == [("b", 3), ("a", 2)]  # c==2 loses the tie to a


def test_pack_sequences_concat_then_chunk(spark):
    # One shard; budget 5; docs of 3/3/4 tokens at offsets 0,3,6 ->
    # bins 0,0,1 (the doc straddling a boundary belongs to its start bin).
    df = spark.createDataFrame(
        [(0, "a b c"), (8, "d e f"), (16, "g h i j")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.shard, r.bin_id)
           for r in pack_sequences(df, "doc_id", "text",
                                   budget=5, n_shards=8).collect()}
    assert got == {0: (3, 0, 0), 8: (3, 0, 0), 16: (4, 0, 1)}


def test_pack_sequences_shards_partition_ids(spark):
    df = (spark.range(0, 64).withColumnRenamed("id", "doc_id")
          .withColumn("text", F.lit("w x y z")))
    rows = pack_sequences(df, "doc_id", "text",
                          budget=8, n_shards=4).collect()
    assert {r.shard for r in rows} == {0, 1, 2, 3}
    assert all(r.shard == r.doc_id % 4 for r in rows)
    # 16 docs x 4 tokens per shard, 8-token budget -> 2 docs per bin.
    per_bin = {}
    for r in rows:
        per_bin.setdefault((r.shard, r.bin_id), 0)
        per_bin[(r.shard, r.bin_id)] += 1
    assert all(v == 2 for v in per_bin.values())


def test_decontaminate_flags_planted_overlap(spark):
    # train doc 1 contains an exact 5-gram lifted from the eval doc;
    # train doc 2 shares no 5-gram with eval.
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "XX alpha beta gamma delta epsilon YY")],
        "doc_id long, text string")
    from serverless_data_pipeline_spark.operators.corpus import decontaminate
    got = {r.doc_id: (r.contaminated, r.n_overlap)
           for r in decontaminate(train, ev, "doc_id", "text", n=5).collect()}
    assert got[1] == (True, 1)
    assert got[2] == (False, 0)
    # every train row survives with the flag attached (no silent drop)
    assert set(got) == {1, 2}


def test_decontaminate_min_overlap_threshold(spark):
    # two shared 5-grams; min_overlap=3 must NOT flag the doc.
    train = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(2, "a b c d e f g h i j")], "doc_id long, text string")
    from serverless_data_pipeline_spark.operators.corpus import decontaminate
    flagged = decontaminate(train, ev, "doc_id", "text", n=5,
                            min_overlap=3).collect()[0]
    assert flagged.contaminated and flagged.n_overlap == 6
    not_flagged = decontaminate(train, ev, "doc_id", "text", n=5,
                                min_overlap=7).collect()[0]
    assert (not not_flagged.contaminated) and not_flagged.n_overlap == 0


def test_segment_dedup_removes_planted_boilerplate(spark):
    """Doc 1 owns the boilerplate segment; docs 2 and 3 repeat it and keep
    only their unique tail; doc 4 is pure boilerplate and disappears."""
    from serverless_data_pipeline_spark.operators.corpus import segment_dedup
    boiler = "b1 b2 b3 b4"  # one 4-word segment
    docs = spark.createDataFrame(
        [(1, boiler + " u1 u2 u3 u4"),
         (2, boiler + " v1 v2 v3 v4"),
         (3, boiler + " w1 w2 w3 w4"),
         (4, boiler)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           segment_dedup(docs, "doc_id", "text", segment_words=4).collect()}
    assert out[1].text == boiler + " u1 u2 u3 u4"
    assert out[2].text == "v1 v2 v3 v4"
    assert out[3].text == "w1 w2 w3 w4"
    assert 4 not in out
    assert (out[1].n_segments, out[1].n_kept) == (2, 2)
    assert (out[2].n_segments, out[2].n_kept) == (2, 1)


def test_segment_dedup_keeps_order_and_partial_tail(spark):
    """Surviving segments reassemble in original order; a short tail
    segment (< segment_words) is its own segment."""
    from serverless_data_pipeline_spark.operators.corpus import segment_dedup
    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string")
    row = segment_dedup(docs, "doc_id", "text", segment_words=2).collect()[0]
    assert row.text == "a b c d e"
    assert row.n_segments == 3 and row.n_kept == 3


# ------------------------------------------------------------ passage dedup


def _pd_docs(spark):
    # doc 1 contains a 10-token passage; doc 2 pastes it mid-sentence at a
    # DIFFERENT alignment (offset 3), the straddle case fixed-boundary
    # segment dedup misses; doc 3 is clean; doc 4 is shorter than k.
    passage = " ".join(f"p{i}" for i in range(10))
    rows = [
        (1, f"intro one two {passage} outro alpha beta gamma delta"),
        (2, f"x y z {passage} tail1 tail2 tail3 tail4 tail5"),
        (3, "totally unique text with no repeats at all here friend"),
        (4, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_passage_dedup_removes_straddling_duplicate(spark):
    from serverless_data_pipeline_spark.operators.corpus import passage_dedup

    out = {r.doc_id: r for r in
           passage_dedup(_pd_docs(spark), "doc_id", "text", k=8).collect()}
    # First occurrence (doc 1) keeps its full text.
    assert out[1].n_removed == 0
    assert "p0" in out[1].text and out[1].text.startswith("intro one two")
    # Doc 2's pasted copy is excised regardless of alignment; surrounding
    # tokens survive in order.
    assert out[2].n_removed == 10
    assert "p0" not in out[2].text and "p9" not in out[2].text
    assert out[2].text == "x y z tail1 tail2 tail3 tail4 tail5"
    # Clean and sub-k docs untouched.
    assert out[3].n_removed == 0
    assert out[4].n_removed == 0 and out[4].text == "tiny doc"


def test_passage_dedup_first_occurrence_order_is_doc_then_pos(spark):
    from serverless_data_pipeline_spark.operators.corpus import passage_dedup

    # The same passage twice INSIDE one doc: second in-doc copy removed.
    passage = " ".join(f"q{i}" for i in range(8))
    df = spark.createDataFrame(
        [(7, f"{passage} mid1 mid2 mid3 {passage} end")],
        "doc_id long, text string")
    out = passage_dedup(df, "doc_id", "text", k=8).collect()[0]
    assert out.n_removed == 8
    assert out.text == f"{passage} mid1 mid2 mid3 end"


def test_passage_dedup_xxhash_flavour_matches_md5(spark):
    from serverless_data_pipeline_spark.operators.corpus import passage_dedup

    df = _pd_docs(spark)
    a = sorted(map(tuple, passage_dedup(df, "doc_id", "text", k=8)
                   .collect()))
    b = sorted(map(tuple, passage_dedup(df, "doc_id", "text", k=8,
                                        fingerprint="xxhash64").collect()))
    assert a == b


def test_passage_dedup_pure_boilerplate_doc_disappears(spark):
    from serverless_data_pipeline_spark.operators.corpus import passage_dedup

    passage = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, f"keep me {passage} and more"), (2, passage)],
        "doc_id long, text string")
    out = {r.doc_id for r in
           passage_dedup(df, "doc_id", "text", k=8).collect()}
    assert out == {1}


def test_passage_dedup_minjoin_rank_path_equivalent(spark):
    """The skew-safe minjoin ranking (min-struct agg + join-back) must be
    value-identical to the default window ranking, including on a corpus
    with a hot boilerplate passage shared by every doc."""
    from serverless_data_pipeline_spark.operators.corpus import passage_dedup

    boiler = " ".join(f"h{i}" for i in range(8))
    rows = [(i, f"u{i}a u{i}b {boiler} u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, passage_dedup(df, "doc_id", "text", k=8,
                                        rank_via="window").collect()))
    b = sorted(map(tuple, passage_dedup(df, "doc_id", "text", k=8,
                                        rank_via="minjoin").collect()))
    assert a == b
    # the hot passage survives only in doc 0
    kept_with_boiler = [r for r in a if "h0 h1" in r[1]]
    assert len(kept_with_boiler) == 1 and kept_with_boiler[0][0] == 0


def test_leakage_safe_split_exact_dup_groups_never_straddle(spark):
    """Every exact-duplicate class must land wholly in one split, keyed
    by its canonical min(doc_id) — row-wise splitting would leak the
    train copy's text into eval. The dup ids are chosen so a row-keyed
    id-modulo split WOULD separate them: id 109 (eval bucket 9) carries
    doc 1's text (train bucket 1) and must follow its GROUP to train."""
    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    rows = [(i, f"unique text number {i} with filler words") for i in
            range(20)]
    rows += [(109, rows[1][1]),                  # verbatim dup of doc 1
             # case/whitespace variant of doc 2: the SAME exact-dup
             # class under the repo's canonical fingerprint() (X1's dup
             # definition), so it must also follow doc 2 to train
             (108, rows[2][1].upper().replace(" ", "  "))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df, "doc_id", text_col="text", hashed=False)
    got = {r.doc_id: (r.group_key, r.split) for r in out.collect()}
    assert len(got) == 22                       # no rows lost or duplicated
    assert got[109] == (1, "train")             # row split would say eval
    assert got[108] == (2, "train")             # normalized dup follows too
    # portable mode: split derives from the GROUP key, not the row id
    assert all(s == ("train" if g % 10 < 8 else "eval")
               for g, s in got.values())


def test_leakage_safe_split_group_col_mode_and_arg_validation(spark):
    """group_col mode (e.g. near-dup component ids) is a narrow
    projection that keys the split on the supplied group."""
    import pytest

    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    df = spark.createDataFrame(
        [(i, i % 3, f"t{i}") for i in range(30)],
        "doc_id long, cid long, text string")
    out = leakage_safe_split(df, "doc_id", group_col="cid")
    by_group = {}
    for r in out.collect():
        by_group.setdefault(r.cid, set()).add(r.split)
        assert r.group_key == r.cid
    assert all(len(s) == 1 for s in by_group.values())
    with pytest.raises(ValueError):
        leakage_safe_split(df, "doc_id")
    with pytest.raises(ValueError):
        leakage_safe_split(df, "doc_id", text_col="text", group_col="cid")


def test_leakage_safe_split_composes_with_neardup_components(spark):
    """The headline composition: split by x2 near-dup component so
    near-duplicates (not just exact copies) never straddle train/eval."""
    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components, ngram_jaccard_pairs,
    )
    base = ("spark engines shuffle data across partitions during joins "
            "and aggregations every day")
    rows = [(i, base + f" tail{i}") for i in range(6)]          # near-dups
    rows += [(10 + i, f"completely different text {i} " +
              " ".join(f"w{i}_{j}" for j in range(10))) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    comp = neardup_components(pairs).withColumnRenamed("id", "doc_id")
    # deliberately NO coalesce: non-duplicated docs carry component_id
    # NULL and must fall back to singleton groups keyed by their own id
    labeled = df.join(comp, "doc_id", "left")
    out = leakage_safe_split(labeled, "doc_id", group_col="component_id")
    rows_out = out.collect()
    splits = {}
    for r in rows_out:
        splits.setdefault(r.group_key, set()).add(r.split)
    assert all(len(s) == 1 for s in splits.values())
    # the 6 near-dup docs share one component hence one split
    near = {r.split for r in rows_out if r.doc_id < 6}
    assert len(near) == 1
    # the NULL-component singletons got their own id as group key and
    # did NOT collapse into one shared bucket
    singles = {r.doc_id: r.group_key for r in rows_out if r.doc_id >= 10}
    assert singles == {i: i for i in singles}
    assert len({r.split_id for r in rows_out if r.doc_id >= 10}) > 1


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom decontamination must flag every doc the exact path flags
    (one-sided error), even at an aggressively small bitmap."""
    from serverless_data_pipeline_spark.operators.corpus import (
        bloom_decontaminate, decontaminate,
    )
    train = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"tok{i}_{j}" for j in range(12)))
         for i in range(30)] +
        [(100, "the secret eval passage appears verbatim right here ok")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(0, "xx the secret eval passage appears verbatim right here yy")],
        "doc_id long, text string")
    exact = {r.doc_id for r in
             decontaminate(train, ev, "doc_id", "text", n=5)
             .filter("contaminated").collect()}
    for m_bits in (1 << 10, 1 << 24):   # tiny bitmap: FPs ok, FNs never
        bloom = {r.doc_id for r in
                 bloom_decontaminate(train, ev, "doc_id", "text", n=5,
                                     m_bits=m_bits)
                 .filter("contaminated").collect()}
        assert exact <= bloom, (m_bits, exact - bloom)
    assert 100 in exact


def test_bloom_decontaminate_fp_rate_bounded_and_deterministic(spark):
    """On disjoint corpora a sanely-sized bitmap yields (near-)zero
    false positives; repeated runs agree bit-for-bit."""
    from serverless_data_pipeline_spark.operators.corpus import (
        bloom_decontaminate,
    )
    train = spark.createDataFrame(
        [(i, " ".join(f"train{i}_{j}" for j in range(15)))
         for i in range(50)],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(i, " ".join(f"eval{i}_{j}" for j in range(15)))
         for i in range(20)],
        "doc_id long, text string")
    out = bloom_decontaminate(train, ev, "doc_id", "text", n=5,
                              m_bits=1 << 24, k_hashes=4)
    flagged = out.filter("contaminated").count()
    assert flagged == 0, flagged    # expected FP ~ 1e-18 at this m/k/n
    a = sorted(map(tuple, out.select("doc_id", "n_overlap").collect()))
    b = sorted(map(tuple, out.select("doc_id", "n_overlap").collect()))
    assert a == b


def test_shingle_bloom_bitmap_is_bounded_and_partitionable(spark):
    """The bitmap frame never exceeds m_bits/64 rows and every set bit
    round-trips through the packed-word representation."""
    from serverless_data_pipeline_spark.operators.corpus import (
        shingle_bloom,
    )
    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(40)],
        "doc_id long, text string")
    m_bits, k = 1 << 12, 4
    rows = shingle_bloom(df, "text", n=5, m_bits=m_bits,
                         k_hashes=k).collect()
    assert len(rows) <= m_bits // 64
    assert all(0 <= r.word_idx < m_bits // 64 for r in rows)
    # 40 docs x 6 distinct 5-gram shingles each x k hashes bounds the
    # set-bit population from above
    n_bits = sum(bin(r.word & ((1 << 64) - 1)).count("1") for r in rows)
    assert 0 < n_bits <= min(m_bits, 40 * 6 * k)


def test_temperature_mix_alpha_extremes_and_cap(spark):
    """alpha=1 keeps the natural distribution untouched; alpha=0 flattens
    toward uniform; intermediate alpha shrinks only the head (tail groups
    are capped at their full size, never upsampled)."""
    import pytest

    from serverless_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )
    rows = ([(i, "en") for i in range(800)]
            + [(1000 + i, "sw") for i in range(8)]
            + [(2000 + i, "de") for i in range(192)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    def kept(alpha, **kw):
        out = temperature_mix(df, "lang", "doc_id", alpha=alpha, **kw)
        return {r[0]: r[1] for r in out.groupBy("lang").count().collect()}

    assert kept(1.0) == {"en": 800, "sw": 8, "de": 192}
    flat = kept(0.0)
    assert flat["sw"] == 8 and flat["de"] == 192      # capped, not upsampled
    assert flat["en"] == 334                          # ceil(1000/3)
    mid = kept(0.3)
    assert flat["en"] < mid["en"] < 800               # monotone in alpha
    tgt = kept(0.3, target_rows=100)
    assert tgt["sw"] == 8 and sum(tgt.values()) < 120
    with pytest.raises(ValueError):
        temperature_mix(df, "lang", "doc_id", alpha=-0.1)


def test_temperature_mix_deterministic_stable_subset(spark):
    """Same md5-ranked membership rule as corpus_mix: rerun-identical,
    and a smaller target keeps a SUBSET of the larger target's rows."""
    from serverless_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )
    rows = [(i, "en" if i % 4 else "fr") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = {r.doc_id for r in
         temperature_mix(df, "lang", "doc_id", alpha=0.5,
                         target_rows=120).collect()}
    b = {r.doc_id for r in
         temperature_mix(df, "lang", "doc_id", alpha=0.5,
                         target_rows=120).collect()}
    big = {r.doc_id for r in
           temperature_mix(df, "lang", "doc_id", alpha=0.5,
                           target_rows=300).collect()}
    assert a == b
    assert a <= big


def test_leakage_safe_split_keeps_null_text_docs(spark):
    """md5(NULL) is NULL and a NULL join key never equi-matches — the
    sentinel fingerprint must keep NULL-text docs in the split (one
    shared group, distinct from the empty string's md5 group)."""
    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    df = spark.createDataFrame(
        [(1, "some text"), (2, None), (3, None), (4, "")],
        "doc_id long, text string")
    out = leakage_safe_split(df, "doc_id", text_col="text", hashed=False)
    got = {r.doc_id: r.group_key for r in out.collect()}
    assert set(got) == {1, 2, 3, 4}          # nothing vanished
    assert got[2] == got[3] == 2             # NULLs share one group
    assert got[4] == 4                       # '' is its own group


def test_shingle_bloom_rejects_degenerate_configs(spark):
    import pytest

    from serverless_data_pipeline_spark.operators.corpus import (
        bloom_decontaminate, shingle_bloom,
    )
    df = spark.createDataFrame([(1, "a b c d e f")],
                               "doc_id long, text string")
    with pytest.raises(ValueError):
        shingle_bloom(df, "text", k_hashes=0)
    with pytest.raises(ValueError):
        shingle_bloom(df, "text", m_bits=32)
    with pytest.raises(ValueError):
        bloom_decontaminate(df, df, "doc_id", "text", k_hashes=0)


def test_leakage_safe_split_string_group_source_heldout(spark):
    """Domain/source-held-out split: a STRING group key works in hashed
    mode (the documented url-host/source use), every source lands wholly
    in one split, and the buckets spread (not one collapsed bucket)."""
    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    rows = [(i, f"src{i % 20}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = leakage_safe_split(df, "doc_id", group_col="source")
    per_source = {}
    for r in out.collect():
        per_source.setdefault(r.source, set()).add(r.split)
        assert r.group_key == r.source
    assert len(per_source) == 20
    assert all(len(s) == 1 for s in per_source.values())
    assert len({r.split_id for r in out.collect()}) > 3


def test_leakage_safe_split_hashed_fallback_is_collision_proof(spark):
    """r6 ADVICE: a singleton's id that equals a real group's VALUE
    (string source literally named '7' vs doc_id 7) must not couple the
    singleton's hashed split to that group's — the split basis is
    sentinel-tagged ('g:' vs 'i:') even though group_key still shows
    the untagged coalesce(group, id) value."""
    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    rows = ([(100 + i, str(i), f"grouped {i}") for i in range(20)]
            + [(i, None, f"singleton {i}") for i in range(20)])
    df = spark.createDataFrame(rows,
                               "doc_id long, source string, text string")
    out = {(r.doc_id): (r.group_key, r.split_id)
           for r in leakage_safe_split(df, "doc_id",
                                       group_col="source").collect()}
    # group_key display is unchanged: untagged coalesce(group, id)
    assert all(out[100 + i][0] == str(i) for i in range(20))
    assert all(out[i][0] == str(i) for i in range(20))
    # but the split assignment must NOT be coupled: with 20 colliding
    # (group '7', id 7) pairs, all-equal split_ids has odds ~1e-20
    assert any(out[i][1] != out[100 + i][1] for i in range(20))


def test_temperature_mix_tiny_target_keeps_every_group(spark):
    """r6 ADVICE: the round-before-ceil jitter guard must not zero a
    group whose p_g * target rounds below 5e-7 — the quota floors at 1,
    so the every-group-keeps->=1-row law holds at ANY explicit
    target_rows, not just the default."""
    from serverless_data_pipeline_spark.operators.corpus import (
        temperature_mix,
    )
    rows = [(g * 1000 + j, f"lang{g}")
            for g in range(6) for j in range(1 + g * 10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = {r[0]: r[1] for r in
            temperature_mix(df, "lang", "doc_id", alpha=0.3,
                            target_rows=2)
            .groupBy("lang").count().collect()}
    assert set(kept) == {f"lang{g}" for g in range(6)}
    assert all(n >= 1 for n in kept.values())


def test_global_shuffle_deterministic_and_complete(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        global_shuffle,
    )
    df = spark.range(0, 1200).withColumnRenamed("id", "doc_id")
    a = global_shuffle(df, "doc_id", seed=0, num_shards=8)
    rows = a.collect()
    # complete: every input row exactly once, shards in range
    assert sorted(r.doc_id for r in rows) == list(range(1200))
    assert all(0 <= r.shard < 8 for r in rows)
    # deterministic: a second invocation is byte-identical
    again = global_shuffle(df, "doc_id", seed=0, num_shards=8).collect()
    key = lambda r: (r.shard, r.pos, r.doc_id, r.sort_key)
    assert sorted(map(key, rows)) == sorted(map(key, again))
    # per-shard positions are contiguous 1..count (a data loader can
    # stream each shard file sequentially with no gaps)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s
    # md5 keys are uniform -> shards balanced (mean 150, ±4 sigma ~= 46;
    # the fixture is deterministic so this can never flake)
    sizes = [len(ps) for ps in by_shard.values()]
    assert len(sizes) == 8 and min(sizes) > 100 and max(sizes) < 200, sizes


def test_global_shuffle_seed_changes_order_not_membership(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        global_shuffle,
    )
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {(r.doc_id): (r.shard, r.pos)
         for r in global_shuffle(df, "doc_id", seed=0).collect()}
    b = {(r.doc_id): (r.shard, r.pos)
         for r in global_shuffle(df, "doc_id", seed=1).collect()}
    assert a.keys() == b.keys()
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > 400, moved  # a new seed is a genuinely new order


def test_global_shuffle_plan_has_no_global_sort(spark):
    # The scale contract: ONE hash exchange on shard + per-shard window
    # sort; never a single-partition global ORDER BY.
    from serverless_data_pipeline_spark.operators.corpus import (
        global_shuffle,
    )
    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    plan = global_shuffle(df, "doc_id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_contamination_report_attribution_and_fraction(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        contamination_report, decontaminate,
    )
    # e1/e2 share 3-grams with t1; t1 shares MORE with e2 than e1.
    # t2 is clean. t3 is a verbatim copy of e1 (frac == 1.0).
    e1 = "alpha beta gamma delta epsilon zeta"
    e2 = "one two three four five six seven eight"
    ev = spark.createDataFrame(
        [(101, e1), (102, e2)], ["doc_id", "text"])
    t1 = "one two three four five xx alpha beta gamma yy"
    train = spark.createDataFrame(
        [(1, t1), (2, "totally clean words nothing shared here"),
         (3, e1)], ["doc_id", "text"])
    rep = {r.doc_id: r for r in contamination_report(
        train, ev, "doc_id", "text", n=3).collect()}
    assert set(rep) == {1, 3}
    # t1: 8 distinct 3-grams total; shares 3 with e2 (one two three /
    # two three four / three four five) and 1 with e1 (alpha beta gamma)
    r1 = rep[1]
    assert r1.n_total == 8 and r1.n_overlap == 4
    assert r1.top_eval_id == 102 and r1.top_eval_overlap == 3
    assert abs(r1.frac_overlap - 0.5) < 1e-9
    # verbatim copy: all 4 of its 3-grams contaminated, attributed to e1
    r3 = rep[3]
    assert r3.n_total == 4 and r3.n_overlap == 4
    assert r3.frac_overlap == 1.0 and r3.top_eval_id == 101
    # n_overlap agrees with the decontaminate gate on the same input
    gate = {r.doc_id: r.n_overlap for r in decontaminate(
        train, ev, "doc_id", "text", n=3).collect() if r.contaminated}
    assert gate == {d: r.n_overlap for d, r in rep.items()}


def test_contamination_report_tie_breaks_to_smallest_eval_id(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        contamination_report,
    )
    # both eval docs share exactly the same single 3-gram with train
    ev = spark.createDataFrame(
        [(202, "alpha beta gamma pp qq"), (201, "alpha beta gamma rr ss")],
        ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "xx alpha beta gamma yy")], ["doc_id", "text"])
    r = contamination_report(train, ev, "doc_id", "text", n=3).collect()
    assert len(r) == 1
    assert r[0].top_eval_id == 201 and r[0].top_eval_overlap == 1


def test_token_budget_mix_quota_in_weight_space(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )
    # two groups, SAME doc count but 10x different doc lengths: a
    # doc-count quota would treat them identically; the weight-space
    # quota must budget by tokens.
    rows = ([(i, "long", 1000) for i in range(20)]
            + [(100 + i, "short", 100) for i in range(20)])
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    out = token_budget_mix(df, "lang", "doc_id", "n", alpha=0.0,
                           target_weight=4000.0)
    kept = {r.lang: [r for r in out.collect() if r.lang == r.lang]
            for r in out.collect()}
    by = {}
    for r in out.collect():
        by.setdefault(r.lang, []).append(r)
    # alpha=0 -> uniform p of 0.5 each -> 2000 weight per group:
    # 'long' affords 2 docs (first-fit, second crosses the budget),
    # 'short' affords 20*100=2000 exactly -> all 20 docs
    assert len(by["long"]) == 2
    assert len(by["short"]) == 20
    # cum_weight is the inclusive running sum in md5-rank order
    for g, rs in by.items():
        rs = sorted(rs, key=lambda r: r.sample_rank)
        cum = 0
        for r in rs:
            cum += r.n
            assert r.cum_weight == cum


def test_token_budget_mix_keeps_every_group_and_is_deterministic(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )
    import pytest
    rows = [(i, f"g{i % 7}", 50 + (i % 13)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    # tiny target: first-fit-with-overshoot still keeps >= 1 doc/group
    out = token_budget_mix(df, "lang", "doc_id", "n", alpha=0.3,
                           target_weight=10.0)
    per = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    assert set(per) == {f"g{i}" for i in range(7)}
    assert all(c == 1 for c in per.values())
    # deterministic: two runs identical; alpha=1 natural -> keeps all
    a = sorted((r.doc_id, r.sample_rank) for r in out.collect())
    b = sorted((r.doc_id, r.sample_rank) for r in token_budget_mix(
        df, "lang", "doc_id", "n", alpha=0.3,
        target_weight=10.0).collect())
    assert a == b
    assert token_budget_mix(df, "lang", "doc_id", "n",
                            alpha=1.0).count() == 300
    with pytest.raises(ValueError):
        token_budget_mix(df, "lang", "doc_id", "n", alpha=-0.1)


def test_repeat_by_epochs_integer_and_fractional(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        repeat_by_epochs,
    )
    rows = ([(i, "head") for i in range(10)]
            + [(100 + i, "middle") for i in range(10)]
            + [(200 + i, "tail") for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id long, bucket string")
    out = repeat_by_epochs(df, "bucket", "doc_id",
                           {"head": 2.5, "middle": 1.0, "tail": 0.0})
    by = {}
    for r in out.collect():
        by.setdefault(r.bucket, []).append(r)
    # tail dropped entirely; middle exactly once with epoch 0
    assert "tail" not in by
    assert len(by["middle"]) == 10
    assert all(r.epoch == 0 and r.n_epochs == 1 for r in by["middle"])
    # head: 10 docs x 2 + md5-top 5 docs x 1 = 25 repetitions
    assert len(by["head"]) == 25
    per_doc = {}
    for r in by["head"]:
        per_doc.setdefault(r.doc_id, set()).add(r.epoch)
    assert sum(1 for v in per_doc.values() if len(v) == 3) == 5
    assert sum(1 for v in per_doc.values() if len(v) == 2) == 5
    # epochs are contiguous 0..k-1 per doc
    assert all(v == set(range(len(v))) for v in per_doc.values())
    # the extra-epoch docs are exactly the md5-rank top half
    extra = {d for d, v in per_doc.items() if len(v) == 3}
    ranks = {r.doc_id: r.sample_rank for r in by["head"]}
    assert extra == {d for d, rk in ranks.items() if rk <= 5}


def test_repeat_by_epochs_default_and_determinism(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        repeat_by_epochs,
    )
    import pytest
    df = spark.createDataFrame([(i, f"g{i % 3}") for i in range(30)],
                               "doc_id long, bucket string")
    # groups not in the map get default_epochs
    out = repeat_by_epochs(df, "bucket", "doc_id", {"g0": 3.0},
                           default_epochs=1.0)
    per = {r[0]: r[1] for r in out.groupBy("bucket").count().collect()}
    assert per == {"g0": 30, "g1": 10, "g2": 10}
    a = sorted((r.doc_id, r.epoch) for r in out.collect())
    b = sorted((r.doc_id, r.epoch) for r in repeat_by_epochs(
        df, "bucket", "doc_id", {"g0": 3.0}).collect())
    assert a == b
    with pytest.raises(ValueError):
        repeat_by_epochs(df, "bucket", "doc_id", {"g0": -1.0})


def test_new_operator_argument_validation(spark):
    import pytest

    from serverless_data_pipeline_spark.operators.corpus import (
        global_shuffle, hex_prefix_long_sql, repeat_by_epochs,
        token_budget_mix,
    )
    df = spark.createDataFrame([(1, "a", 5)],
                               "doc_id long, lang string, n long")
    with pytest.raises(ValueError, match="num_shards"):
        global_shuffle(df, "doc_id", num_shards=0)
    with pytest.raises(ValueError, match="nchars"):
        hex_prefix_long_sql("k", 16)
    with pytest.raises(ValueError, match="target_weight"):
        token_budget_mix(df, "lang", "doc_id", "n", target_weight=0.0)
    # numeric group keys: the epochs map takes the FRAME's group type
    ndf = spark.createDataFrame([(i, i % 2) for i in range(10)],
                                "doc_id long, bucket bigint")
    out = repeat_by_epochs(ndf, "bucket", "doc_id", {0: 2.0, 1: 1.0})
    per = {r[0]: r[1] for r in out.groupBy("bucket").count().collect()}
    assert per == {0: 10, 1: 5}


def test_corpus_datasheet_closed_form(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        corpus_datasheet,
    )
    rows = [
        (1, "a", "the quick brown fox jumps over the lazy dog today"),
        (2, "a", "the quick brown fox jumps over the lazy dog today"),
        (3, "a", "tiny"),
        (4, "b", "one two three four five six seven"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r for r in corpus_datasheet(df, "source").collect()}
    a, b = out["a"], out["b"]
    assert (a.n_docs, a.n_distinct_fp) == (3, 2)
    assert a.exact_dup_rate == round(1 - 2 / 3, 6)
    assert a.total_tokens == 10 + 10 + 1 and a.p50_tokens == 10.0
    # doc 3: len 4 (<20) fails length, <5 tokens fails structure -> 1/3
    assert a.mean_quality == round((3 + 3 + 1) / 9, 6)
    assert (b.n_docs, b.total_tokens, b.exact_dup_rate) == (1, 7, 0.0)
    assert b.total_chars == len(rows[3][2])


def _pack_fixture(spark, counts, n_shards=1):
    rows = [(i, "w " * c) for i, c in enumerate(counts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_bins_next_fit_hand_checked(spark):
    """Pins the exact linear-recursion semantics the DuckDB oracle
    replays: id order, close the bin when the next doc would overflow,
    oversize docs land alone."""
    from serverless_data_pipeline_spark.operators.corpus import pack_bins
    df = _pack_fixture(spark, [4, 5, 3, 10, 2, 12, 1])
    out = {r.doc_id: r.bin_id
           for r in pack_bins(df, "doc_id", "text", budget=10,
                              n_shards=1).collect()}
    assert out == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}


def test_pack_bins_ffd_hand_checked_and_fewer_bins(spark):
    from serverless_data_pipeline_spark.operators.corpus import pack_bins
    df = _pack_fixture(spark, [4, 5, 3, 10, 2, 12, 1])
    out = {r.doc_id: r.bin_id
           for r in pack_bins(df, "doc_id", "text", budget=10,
                              n_shards=1,
                              strategy="first_fit_dec").collect()}
    # sorted desc: 12->bin0, 10->bin1, 5->bin2, 4->bin2(9), 3->bin3,
    # 2->bin3(5), 1->bin2(10)
    assert out == {5: 0, 3: 1, 1: 2, 0: 2, 2: 3, 4: 3, 6: 2}
    assert len(set(out.values())) == 4          # < next_fit's 6


def test_pack_bins_laws_on_fixture(spark):
    """Capacity, completeness and determinism over the real corpus at a
    small budget, both strategies."""
    from serverless_data_pipeline_spark.operators.corpus import pack_bins
    from collections import defaultdict
    import pytest
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    bins_by_strategy = {}
    for strat in ("next_fit", "first_fit_dec"):
        out = pack_bins(docs, "doc_id", "text", budget=64, n_shards=4,
                        strategy=strat).collect()
        assert len(out) == n
        assert len({r.doc_id for r in out}) == n
        fills = defaultdict(list)
        for r in out:
            fills[(r.shard, r.bin_id)].append(r.n_tokens)
        for v in fills.values():
            assert sum(v) <= 64 or any(x > 64 for x in v)
        bins_by_strategy[strat] = fills
        # determinism: identical assignment from a different layout
        again = pack_bins(docs.repartition(13), "doc_id", "text",
                          budget=64, n_shards=4, strategy=strat)
        assert sorted((r.doc_id, r.shard, r.bin_id)
                      for r in again.collect()) \
            == sorted((r.doc_id, r.shard, r.bin_id) for r in out)
    assert len(bins_by_strategy["first_fit_dec"]) \
        <= len(bins_by_strategy["next_fit"])
    with pytest.raises(ValueError):
        pack_bins(docs, "doc_id", "text", budget=0)
    with pytest.raises(ValueError):
        pack_bins(docs, "doc_id", "text", strategy="worst_fit")


def test_token_budget_mix_zero_weight_group_keeps_one(spark):
    """The every-group-keeps->=1 law survives zero-weight groups: a
    group whose weights are all 0/NULL gets quota 0 (and with ALL
    groups zeroed, NULL) — rank 1 must still be kept."""
    from serverless_data_pipeline_spark.operators.corpus import (
        token_budget_mix,
    )
    rows = [("a", 1, 100), ("a", 2, 100), ("z", 3, 0), ("z", 4, None)]
    df = spark.createDataFrame(rows, "g string, doc_id long, w long")
    out = token_budget_mix(df, "g", "doc_id", "w", alpha=0.3)
    kept = {r.g for r in out.collect()}
    assert "z" in kept and "a" in kept
    assert out.filter("g = 'z'").count() >= 1
    # all-zero corpus: quotas are NULL, rank 1 per group still kept
    allz = spark.createDataFrame(
        [("a", 1, 0), ("b", 2, 0)], "g string, doc_id long, w long")
    out2 = token_budget_mix(allz, "g", "doc_id", "w", alpha=0.3)
    assert {r.g for r in out2.collect()} == {"a", "b"}


def test_pack_bins_offsets_are_attention_mask_ready(spark):
    """bin_offset law: within each (shard, bin), docs laid out in id
    order tile the bin exactly — offsets start at 0, each next offset
    = previous offset + previous n_tokens, and offset + n_tokens never
    exceeds the budget (next_fit); FFD offsets obey the same tiling."""
    from serverless_data_pipeline_spark.operators.corpus import pack_bins
    rows = [(i, "w " * (3 + i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for strat in ("next_fit", "first_fit_dec"):
        out = pack_bins(df, "doc_id", "text", budget=10, n_shards=2,
                        strategy=strat).collect()
        bins = {}
        for r in out:
            bins.setdefault((r.shard, r.bin_id), []).append(r)
        for members in bins.values():
            members.sort(key=lambda r: r.doc_id)
            expect = 0
            for r in members:
                assert r.bin_offset == expect
                expect += r.n_tokens
            assert expect <= 10


def test_snapshot_diff_classifies_all_four_states(spark):
    """Diff laws: added/removed/modified/unchanged partition the id
    union; whitespace/case-only edits are UNCHANGED (normalized
    fingerprints); NULL ids are dropped from both sides."""
    from serverless_data_pipeline_spark.operators.corpus import (
        snapshot_diff,
    )
    a = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta"),
         (4, "eta  theta"), (None, "ghost")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "alpha beta"),            # unchanged
         (2, "gamma delta EDITED"),    # modified
         (4, "ETA THETA "),            # case/ws only -> unchanged
         (9, "brand new"),             # added
         (None, "ghost2")],
        "doc_id long, text string")
    got = {r.doc_id: r.status for r in snapshot_diff(a, b).collect()}
    assert got == {1: "unchanged", 2: "modified", 3: "removed",
                   4: "unchanged", 9: "added"}
    # NULL text is PRESENCE, not absence: a NULL-text doc only in A is
    # removed (not 'added'); NULL -> text is modified; NULL -> NULL is
    # unchanged. Duplicate ids collapse to ONE deterministic row.
    a2 = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (7, "x")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(2, "now text"), (3, None), (7, "x"), (7, "y")],
        "doc_id long, text string")
    rows = snapshot_diff(a2, b2).collect()
    assert len(rows) == 4                      # one row per id
    got2 = {r.doc_id: r.status for r in rows}
    assert got2 == {1: "removed", 2: "modified", 3: "unchanged",
                    7: "modified"}             # min-fp canon: 'x' vs 'x','y'... deterministic


def test_leakage_safe_split_portable_fallback_is_collision_proof(spark):
    """r7 carry-over: portable (hashed=False) group_col mode must also
    decouple a singleton whose id equals a real group's value — the
    numeric basis is parity-tagged (2*group vs 2*id+1), so the two
    domains are disjoint. Groups still never straddle, and both
    residue classes keep the 8:2 proportion rule."""
    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    # groups named 0..19 (longs) AND singleton ids 0..19: full overlap
    rows = ([(100 + i, i) for i in range(20)]          # grouped docs
            + [(i, None) for i in range(20)])          # singletons
    df = spark.createDataFrame(rows, "doc_id long, cid long")
    out = {r.doc_id: (r.group_key, r.split_id, r.split)
           for r in leakage_safe_split(df, "doc_id", group_col="cid",
                                       hashed=False).collect()}
    # display key unchanged
    assert all(out[100 + i][0] == i for i in range(20))
    assert all(out[i][0] == i for i in range(20))
    # parity tag: group buckets even, singleton buckets odd -> a
    # colliding (group g, id g) pair can never share a bucket
    assert all(out[100 + i][1] % 2 == 0 for i in range(20))
    assert all(out[i][1] % 2 == 1 for i in range(20))
    assert all(out[100 + i][1] != out[i][1] for i in range(20))
    # proportions: ids 0..19 uniform -> 16 of each class in train
    assert sum(out[100 + i][2] == "train" for i in range(20)) == 16
    assert sum(out[i][2] == "train" for i in range(20)) == 16


def test_leakage_safe_split_portable_fullrange_keys_and_validation(spark):
    """r8 review: the parity basis must survive full-range 64-bit keys
    under ANSI mode (raw 2*key overflow-aborts at |key| >= 2^62 — the
    inner pmod keeps the doubling in range), and portable group mode
    rejects odd split geometries, where the parity classes would get
    systematically different train rates."""
    import pytest as _pt

    from serverless_data_pipeline_spark.operators.corpus import (
        leakage_safe_split,
    )
    big = 2 ** 62 + 5
    df = spark.createDataFrame(
        [(big, None), (big + 1, big + 7), (5, -(2 ** 62) - 9)],
        "doc_id long, cid long")
    rows = leakage_safe_split(df, "doc_id", group_col="cid",
                              hashed=False).collect()
    assert len(rows) == 3 and all(r.split in ("train", "eval")
                                  for r in rows)
    # grouped rows on even buckets, singletons on odd — still disjoint
    by_id = {r.doc_id: r.split_id for r in rows}
    assert by_id[big] % 2 == 1
    assert by_id[big + 1] % 2 == 0 and by_id[5] % 2 == 0
    with _pt.raises(ValueError, match="even"):
        leakage_safe_split(df, "doc_id", group_col="cid", hashed=False,
                           train_cutoff=7)
    with _pt.raises(ValueError, match="even"):
        leakage_safe_split(df, "doc_id", group_col="cid", hashed=False,
                           n_splits=9, train_cutoff=6)


# ---------------------------------------------------------------------------
# pack_token_blocks — the materialized packed-pretraining blocks (r10)


def _blk_fixture(spark, ids_lists):
    rows = [(i, ids) for i, ids in enumerate(ids_lists)]
    return spark.createDataFrame(rows, "doc_id long, token_ids array<int>")


def test_pack_token_blocks_hand_checked(spark):
    """One shard, L=4, EOS=99: stream 1,2,3,99,4,5,99,6,99,7,8,9,10,99
    -> [1,2,3,99] [4,5,99,6] [99,7,8,9]; remainder [10,99] dropped.
    Spans pin exactly which doc supplied which block positions."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks,
    )
    df = _blk_fixture(spark, [[1, 2, 3], [4, 5], [6], [7, 8, 9, 10]])
    out = sorted(pack_token_blocks(df, "doc_id", "token_ids",
                                   block_len=4, eos_id=99,
                                   n_shards=1).collect(),
                 key=lambda r: r.block_id)
    assert [r.ids for r in out] == [[1, 2, 3, 99], [4, 5, 99, 6],
                                    [99, 7, 8, 9]]
    spans = [[(s.start, s.len, s.doc_id) for s in r.doc_spans]
             for r in out]
    assert spans == [[(0, 4, 0)],
                     [(0, 3, 1), (3, 1, 2)],
                     [(0, 1, 2), (1, 3, 3)]]


def test_pack_token_blocks_completeness_and_span_tiling(spark):
    """drop_last=False: concatenating a shard's blocks in block order
    reproduces the per-doc (ids+EOS) streams in id order exactly; in
    every block the spans tile [0, len) contiguously."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks,
    )
    import random
    rng = random.Random(7)
    ids_lists = [[rng.randrange(1000) for _ in range(rng.randrange(9))]
                 for _ in range(60)]
    df = _blk_fixture(spark, ids_lists)
    out = pack_token_blocks(df, "doc_id", "token_ids", block_len=7,
                            eos_id=77, n_shards=3,
                            drop_last=False).collect()
    streams, expected = {}, {}
    for r in sorted(out, key=lambda x: (x.shard, x.block_id)):
        streams.setdefault(r.shard, []).extend(r.ids)
        pos = 0
        for s in r.doc_spans:
            assert s.start == pos
            pos += s.len
        assert pos == len(r.ids)
        assert len(r.ids) <= 7
    for i, ids in enumerate(ids_lists):
        expected.setdefault(i % 3, []).extend(list(ids) + [77])
    assert streams == expected


def test_pack_token_blocks_drop_last_and_pad(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks,
    )
    import pytest
    df = _blk_fixture(spark, [[1, 2, 3], [4, 5]])   # stream of 7 w/ EOS
    full = pack_token_blocks(df, "doc_id", "token_ids", block_len=4,
                             eos_id=9, n_shards=1).collect()
    assert [r.ids for r in full] == [[1, 2, 3, 9]]   # remainder dropped
    padded = sorted(pack_token_blocks(
        df, "doc_id", "token_ids", block_len=4, eos_id=9, n_shards=1,
        drop_last=False, pad_id=0).collect(), key=lambda r: r.block_id)
    assert [r.ids for r in padded] == [[1, 2, 3, 9], [4, 5, 9, 0]]
    # pad never invents a span
    assert [(s.start, s.len, s.doc_id)
            for s in padded[1].doc_spans] == [(0, 3, 1)]
    with pytest.raises(ValueError):
        pack_token_blocks(df, "doc_id", "token_ids", block_len=0)
    with pytest.raises(ValueError):
        pack_token_blocks(df, "doc_id", "token_ids", pad_id=5)


def test_pack_token_blocks_empty_docs_and_determinism(spark):
    """Zero-id docs occupy no positions without EOS but still
    contribute their EOS token with it; assignment is identical under
    a different input partitioning."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks,
    )
    df = _blk_fixture(spark, [[], [1], [], [2, 3]])
    no_eos = pack_token_blocks(df, "doc_id", "token_ids", block_len=3,
                               n_shards=1, drop_last=False).collect()
    assert [r.ids for r in no_eos] == [[1, 2, 3]]
    with_eos = sorted(pack_token_blocks(
        df, "doc_id", "token_ids", block_len=3, eos_id=5, n_shards=1,
        drop_last=False).collect(), key=lambda r: r.block_id)
    # stream: 5, 1,5, 5, 2,3,5 -> [5,1,5] [5,2,3] [5]
    assert [r.ids for r in with_eos] == [[5, 1, 5], [5, 2, 3], [5]]
    assert [(s.start, s.len, s.doc_id)
            for s in with_eos[0].doc_spans] == [(0, 1, 0), (1, 2, 1)]
    base = pack_token_blocks(df, "doc_id", "token_ids", block_len=3,
                             eos_id=5, n_shards=1, drop_last=False)
    again = pack_token_blocks(df.repartition(5), "doc_id", "token_ids",
                              block_len=3, eos_id=5, n_shards=1,
                              drop_last=False)
    assert sorted((r.shard, r.block_id, r.ids) for r in base.collect()) \
        == sorted((r.shard, r.block_id, r.ids) for r in again.collect())


def test_pack_token_blocks_in_training_order(spark):
    """Composition with global_shuffle (the real pipeline: shuffle,
    THEN pack): with shard_col/order_by from the shuffle, each
    shard's block stream replays the seeded training order exactly —
    not doc-id order."""
    from serverless_data_pipeline_spark.operators.corpus import (
        global_shuffle, pack_token_blocks,
    )
    ids_lists = [[100 * i + j for j in range(1 + i % 4)]
                 for i in range(30)]
    df = _blk_fixture(spark, ids_lists)
    shuf = global_shuffle(df, "doc_id", seed=1, num_shards=2)
    joined = df.join(shuf.select("doc_id", "shard", "pos"), "doc_id")
    out = pack_token_blocks(joined, "doc_id", "token_ids",
                            block_len=5, eos_id=9, shard_col="shard",
                            order_by="pos", drop_last=False)
    got = {}
    for r in sorted(out.collect(), key=lambda x: (x.shard, x.block_id)):
        got.setdefault(r.shard, []).extend(r.ids)
    expect = {}
    for row in shuf.orderBy("shard", "pos").collect():
        expect.setdefault(row.shard, []).extend(
            list(ids_lists[row.doc_id]) + [9])
    assert got == expect
    assert got != {s: [t for i, ids in enumerate(ids_lists)
                       if i % 2 == s for t in list(ids) + [9]]
                   for s in (0, 1)}   # genuinely not id order


def test_pack_token_blocks_string_keys(spark):
    """A composed string key ("doc_id:epoch", the repeat_by_epochs
    shape) packs fine with shard_col/order_by — the id keeps its
    native type and appears verbatim in the spans."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks,
    )
    import pytest
    rows = [("1:0", 0, 1, [1, 2]), ("1:1", 0, 2, [1, 2]),
            ("2:0", 0, 0, [3])]
    df = spark.createDataFrame(
        rows, "rid string, shard int, pos long, token_ids array<int>")
    out = sorted(pack_token_blocks(
        df, "rid", "token_ids", block_len=4, eos_id=9,
        shard_col="shard", order_by="pos",
        drop_last=False).collect(), key=lambda r: r.block_id)
    # pos order: 2:0 -> [3,9], 1:0 -> [1,2,9], 1:1 -> [1,2,9]
    assert [r.ids for r in out] == [[3, 9, 1, 2], [9, 1, 2, 9]]
    assert [s.doc_id for s in out[0].doc_spans] == ["2:0", "1:0"]
    # without shard_col, a string id cannot derive a pmod shard
    with pytest.raises(Exception):
        pack_token_blocks(df, "rid", "token_ids",
                          block_len=4).collect()


def test_pack_token_blocks_null_ids_contribute_eos(spark):
    """A NULL id array (e.g. the encode of a NULL text) must behave
    exactly like an empty one: skipped without EOS, but with eos_id
    it still contributes its EOS token — never silently vanishing."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks,
    )
    df = spark.createDataFrame([(0, [1, 2]), (1, None), (2, [3])],
                               "doc_id long, token_ids array<int>")
    out = sorted(pack_token_blocks(
        df, "doc_id", "token_ids", block_len=3, eos_id=9, n_shards=1,
        drop_last=False).collect(), key=lambda r: r.block_id)
    # stream: 1,2,9, 9, 3,9 -> [1,2,9] [9,3,9]
    assert [r.ids for r in out] == [[1, 2, 9], [9, 3, 9]]
    assert [s.doc_id for s in out[1].doc_spans] == [1, 2]
    no_eos = pack_token_blocks(df, "doc_id", "token_ids", block_len=3,
                               n_shards=1, drop_last=False).collect()
    assert [r.ids for r in no_eos] == [[1, 2, 3]]


def test_unpack_token_blocks_round_trip(spark):
    """unpack(pack(x)) == x exactly with drop_last=False (+EOS strip);
    with drop_last=True the shard-tail docs come back as the surviving
    prefix and everything else is untouched; pads never leak."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks, unpack_token_blocks,
    )
    import random
    rng = random.Random(11)
    ids_lists = [[rng.randrange(500) for _ in range(rng.randrange(9))]
                 for _ in range(50)]
    df = _blk_fixture(spark, ids_lists)
    full = pack_token_blocks(df, "doc_id", "token_ids", block_len=7,
                             eos_id=777, n_shards=3, drop_last=False)
    back = {r.doc_id: r.token_ids
            for r in unpack_token_blocks(full,
                                         strip_eos=777).collect()}
    assert back == {i: list(ids) for i, ids in enumerate(ids_lists)}
    # padded variant: pad ids carry no span, so unpack is identical
    padded = pack_token_blocks(df, "doc_id", "token_ids", block_len=7,
                               eos_id=777, n_shards=3,
                               drop_last=False, pad_id=0)
    backp = {r.doc_id: r.token_ids
             for r in unpack_token_blocks(padded,
                                          strip_eos=777).collect()}
    assert backp == back
    # drop_last: every returned doc is a prefix of its original
    dropped = pack_token_blocks(df, "doc_id", "token_ids", block_len=7,
                                eos_id=777, n_shards=3)
    backd = {r.doc_id: r.token_ids
             for r in unpack_token_blocks(dropped,
                                          strip_eos=777).collect()}
    for i, ids in backd.items():
        orig = list(ids_lists[i]) + [777]
        assert orig[:len(ids)] == list(ids) or \
            list(ids) == list(ids_lists[i])
    # without strip_eos the EOS stays on every whole doc
    raw = {r.doc_id: r.token_ids
           for r in unpack_token_blocks(full).collect()}
    assert all(v[-1] == 777 for v in raw.values())


def test_resume_token_blocks_equals_full_repack(spark):
    """The incremental-packing law: prior-state non-tail blocks plus
    resume(state, new_batch) equals pack(all docs) exactly — ids AND
    spans — including shards that get no new docs (tail re-emitted
    unchanged) and a shard that appears only in the new batch."""
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks, resume_token_blocks,
    )
    import random
    rng = random.Random(23)
    a_lists = [[rng.randrange(500) for _ in range(rng.randrange(9))]
               for _ in range(40)]
    # shard 2 gets no new docs; doc 90 lands in shard 0 only via B
    b_lists = {90 + i: [rng.randrange(500)
                        for _ in range(rng.randrange(9))]
               for i in range(12) if (90 + i) % 3 != 2}
    A = _blk_fixture(spark, a_lists)
    B = spark.createDataFrame(sorted(b_lists.items()),
                              "doc_id long, token_ids array<int>")
    kw = dict(block_len=7, eos_id=777, n_shards=3)
    state = pack_token_blocks(A, "doc_id", "token_ids",
                              drop_last=False, **kw)
    out = resume_token_blocks(state, B, "doc_id", "token_ids", **kw)

    def key(rows):
        return {(r.shard, r.block_id, tuple(r.ids),
                 tuple((s.start, s.len, s.doc_id)
                       for s in r.doc_spans)) for r in rows}
    st = state.collect()
    tails = {}
    for r in st:
        tails[r.shard] = max(tails.get(r.shard, -1), r.block_id)
    merged = key([r for r in st if r.block_id < tails[r.shard]]) \
        | key(out.collect())
    full = key(pack_token_blocks(
        A.unionByName(B), "doc_id", "token_ids",
        drop_last=False, **kw).collect())
    assert merged == full
    # padded state rejected up front
    import pytest
    padded = pack_token_blocks(A, "doc_id", "token_ids",
                               drop_last=False, pad_id=0, **kw)
    with pytest.raises(ValueError, match="padded"):
        resume_token_blocks(padded, B, "doc_id", "token_ids", **kw)


def test_resume_token_blocks_never_rescans_state(spark, tmp_path):
    """Single-scan law (r10 ADVICE): resume fetches the |shards| tail
    blocks in ONE aggregation at call time and its OUTPUT plan never
    references the prior state again — pinned by deleting the state
    parquet after the call and still evaluating the result. Merged
    output must still equal the full repack."""
    import shutil
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks, resume_token_blocks,
    )
    A = spark.createDataFrame(
        [(i, list(range(i % 5 + 1))) for i in range(20)],
        "doc_id long, token_ids array<int>")
    B = spark.createDataFrame(
        [(i, list(range(i % 4 + 1))) for i in range(20, 31)],
        "doc_id long, token_ids array<int>")
    kw = dict(block_len=6, eos_id=99, n_shards=3)
    path = str(tmp_path / "state")
    pack_token_blocks(A, "doc_id", "token_ids",
                      drop_last=False, **kw).write.parquet(path)
    state = spark.read.parquet(path)
    out = resume_token_blocks(state, B, "doc_id", "token_ids", **kw)
    tails = {r["shard"]: r["tb"] for r in
             state.groupBy("shard")
             .agg(F.max("block_id").alias("tb")).collect()}
    kept = [r for r in state.collect() if r.block_id < tails[r.shard]]
    shutil.rmtree(path)  # the state is GONE before evaluation

    def key(rows):
        return {(r.shard, r.block_id, tuple(r.ids),
                 tuple((s.start, s.len, s.doc_id)
                       for s in r.doc_spans)) for r in rows}
    merged = key(kept) | key(out.collect())
    full = key(pack_token_blocks(
        A.unionByName(B), "doc_id", "token_ids",
        drop_last=False, **kw).collect())
    assert merged == full


# block_positions / reshuffle_blocks — the trainer companions (r11) -------


def test_block_positions_hand_checked(spark):
    """Positions reset at every span start; sequence ids are the span
    ordinal — the exact block-diagonal-mask inputs."""
    from serverless_data_pipeline_spark.operators.corpus import (
        block_positions,
    )
    rows = [(0, 0, [1, 2, 3, 4, 5],
             [{"start": 0, "len": 3, "doc_id": 7},
              {"start": 3, "len": 2, "doc_id": 8}])]
    blocks = spark.createDataFrame(
        rows, "shard int, block_id long, ids array<int>, "
              "doc_spans array<struct<start:int,len:int,doc_id:long>>")
    out = block_positions(blocks).collect()[0]
    assert out.position_ids == [0, 1, 2, 0, 1]
    assert out.sequence_ids == [0, 0, 0, 1, 1]


def test_block_positions_composes_with_pack(spark):
    """Over real pack_token_blocks output: every block's companion
    arrays tile the block exactly, positions restart at 0 per span
    (including a doc carried over a block boundary), and sequence ids
    are non-decreasing block ordinals."""
    from serverless_data_pipeline_spark.operators.corpus import (
        block_positions, pack_token_blocks,
    )
    docs = spark.createDataFrame(
        [(i, list(range(100 + i, 100 + i + (i % 7) + 1)))
         for i in range(30)],
        "doc_id long, token_ids array<int>")
    blk = pack_token_blocks(docs, "doc_id", "token_ids", block_len=5,
                            eos_id=999, n_shards=2, drop_last=False)
    for r in block_positions(blk).collect():
        assert len(r.position_ids) == len(r.ids)
        assert len(r.sequence_ids) == len(r.ids)
        # rebuild expected arrays from the spans
        exp_pos, exp_seq = [], []
        for i, s in enumerate(r.doc_spans):
            exp_pos.extend(range(s.len))
            exp_seq.extend([i] * s.len)
        assert r.position_ids == exp_pos
        assert r.sequence_ids == exp_seq
        assert r.position_ids[0] == 0


def test_block_positions_masks_padding(spark):
    """On a padded tail block (drop_last=False + pad_id) the companions
    still tile the ids array exactly: pad positions carry the -1
    mask sentinel in BOTH arrays."""
    from serverless_data_pipeline_spark.operators.corpus import (
        block_positions, pack_token_blocks,
    )
    docs = spark.createDataFrame([(1, [7, 8, 9]), (2, [5])],
                                 "doc_id long, token_ids array<int>")
    blk = pack_token_blocks(docs, "doc_id", "token_ids", block_len=8,
                            n_shards=1, drop_last=False, pad_id=0)
    rows = block_positions(blk).collect()
    assert len(rows) == 1
    r = rows[0]
    assert len(r.ids) == 8
    assert r.position_ids == [0, 1, 2, 0, -1, -1, -1, -1]
    assert r.sequence_ids == [0, 0, 0, 1, -1, -1, -1, -1]


def test_reshuffle_blocks_laws(spark):
    """Permutation (every block exactly once), per-shard contiguous
    1-based positions, determinism under relayout, epoch/seed change
    the order, num_shards validated."""
    import pytest
    from serverless_data_pipeline_spark.operators.corpus import (
        pack_token_blocks, reshuffle_blocks,
    )
    docs = spark.createDataFrame(
        [(i, list(range(i % 9 + 1))) for i in range(60)],
        "doc_id long, token_ids array<int>")
    blk = (pack_token_blocks(docs, "doc_id", "token_ids", block_len=4,
                             eos_id=99, n_shards=3)
           .localCheckpoint(eager=True))
    ids = {(r.shard, r.block_id) for r in blk.collect()}
    out = reshuffle_blocks(blk, seed=5, epoch=1, num_shards=4)
    rows = out.collect()
    assert {(r.shard, r.block_id) for r in rows} == ids
    assert len(rows) == len(ids)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.train_shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic under relayout
    again = {(r.shard, r.block_id): (r.train_shard, r.pos)
             for r in reshuffle_blocks(blk.repartition(7), seed=5,
                                       epoch=1,
                                       num_shards=4).collect()}
    assert again == {(r.shard, r.block_id): (r.train_shard, r.pos)
                     for r in rows}
    # a new epoch (or seed) is a different order over the same blocks
    e2 = {(r.shard, r.block_id): (r.train_shard, r.pos)
          for r in reshuffle_blocks(blk, seed=5, epoch=2,
                                    num_shards=4).collect()}
    assert set(e2) == ids and e2 != again
    s2 = {(r.shard, r.block_id): (r.train_shard, r.pos)
          for r in reshuffle_blocks(blk, seed=6, epoch=1,
                                    num_shards=4).collect()}
    assert set(s2) == ids and s2 != again
    with pytest.raises(ValueError, match="num_shards"):
        reshuffle_blocks(blk, num_shards=0)


def test_block_loss_mask_hand_checked(spark):
    """r12 SFT companion: a doc's within-stream offset gates the flag
    — prompt tokens 0, completion tokens (EOS included) 1, pad tail 0,
    a doc CROSSING a block boundary keeps counting its offset, a
    prompt longer than the doc masks it entirely, and a NULL/missing
    prompt row trains everywhere."""
    from serverless_data_pipeline_spark.operators.corpus import (
        block_loss_mask,
    )
    spans_t = "array<struct<start:int,len:int,doc_id:long>>"
    rows = [
        # block 0: doc 7 tokens 0-3 (prompt_len 2), doc 8 token 0
        (0, 0, [10, 11, 12, 13, 20],
         [{"start": 0, "len": 4, "doc_id": 7},
          {"start": 4, "len": 1, "doc_id": 8}]),
        # block 1: doc 8 continues (offsets 1-2; prompt_len 2 -> token
        # at offset 2 trains), doc 9 fully masked (prompt 99 > len),
        # doc 10 has no prompt row -> all train; 1 pad position
        (0, 1, [21, 22, 30, 40, 0],
         [{"start": 0, "len": 2, "doc_id": 8},
          {"start": 2, "len": 1, "doc_id": 9},
          {"start": 3, "len": 1, "doc_id": 10}]),
    ]
    blocks = spark.createDataFrame(
        rows, f"shard int, block_id long, ids array<int>, "
              f"doc_spans {spans_t}")
    prompts = spark.createDataFrame(
        [(7, 2), (8, 2), (9, 99), (11, None)],
        "doc_id long, prompt_len int")
    got = {r.block_id: r.loss_mask
           for r in block_loss_mask(blocks, prompts, "doc_id",
                                    "prompt_len").collect()}
    assert got[0] == [0, 0, 1, 1, 0]
    assert got[1] == [0, 1, 0, 1, 0]


def test_block_loss_mask_composes_with_pack(spark):
    """Over real pack_token_blocks output: the mask tiles every block,
    and rebuilding each doc's flag stream through the spans matches
    the per-doc closed form (offset >= prompt_len, EOS trainable when
    the prompt is shorter than the stream)."""
    from serverless_data_pipeline_spark.operators.corpus import (
        block_loss_mask, pack_token_blocks,
    )
    docs = spark.createDataFrame(
        [(i, list(range(100, 100 + (i % 7) + 1))) for i in range(30)],
        "doc_id long, token_ids array<int>")
    prompts = docs.selectExpr(
        "doc_id", "CASE WHEN doc_id % 3 != 0 THEN doc_id % 7 END"
        " AS prompt_len")
    blk = pack_token_blocks(docs, "doc_id", "token_ids", block_len=5,
                            eos_id=999, n_shards=2, drop_last=False)
    out = block_loss_mask(blk, prompts, "doc_id", "prompt_len")
    seen = {}
    for r in out.collect():
        assert len(r.loss_mask) == len(r.ids)
        covered = 0
        for s in sorted(r.doc_spans, key=lambda s: s.start):
            seen.setdefault(s.doc_id, {})[
                (r.shard, r.block_id, s.start)] = \
                r.loss_mask[s.start:s.start + s.len]
            covered += s.len
        assert all(v == 0 for v in r.loss_mask[covered:])
    for i in range(30):
        n = (i % 7) + 1 + 1                      # ids + EOS
        plen = i % 7 if i % 3 != 0 else 0
        stream = []
        for k in sorted(seen[i]):
            stream.extend(seen[i][k])
        assert stream == [1 if off >= plen else 0 for off in range(n)]
