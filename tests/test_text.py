"""X5 text analysis + scalar text functions."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from serverless_data_pipeline_spark.functions.text import (
    fingerprint, token_count, tokens, word_shingles,
)
from serverless_data_pipeline_spark.operators.text import (
    language_id, quality_features, token_stats,
)


def test_tokens_empty_and_whitespace(spark):
    df = spark.createDataFrame([("",), ("   ",), ("a  b",)], "t string")
    got = [r[0] for r in df.select(token_count("t")).collect()]
    assert got == [0, 0, 2]


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "t string")
    got = [r[0] for r in df.select(word_shingles("t", 3)).collect()]
    assert got == [["a b"], ["a b c", "b c d"]]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("  Hello   World ",), ("hello world",)],
                               "t string")
    fps = [r[0] for r in df.select(fingerprint("t")).collect()]
    assert fps[0] == fps[1] == hashlib.md5(b"hello world").hexdigest()


def test_language_id_on_marker_sentences(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is of to"),
         (2, "el que la los es la que"),
         (3, "der und die das ist der"),
         (4, "le les des est une les"),
         (5, "xyzzy qwerty plugh"),
         (6, "你好 世界")],
        "doc_id long, text string")
    got = {r.doc_id: r.predicted_lang
           for r in language_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "und", 6: "zh"}


def test_quality_features_values(spark):
    text = "this is a clean sentence with plenty of simple words"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = quality_features(df).first()
    assert row.q_tokens == 10
    assert row.q_punct_ratio == 0.0
    assert row.q_score == 1.0  # len in range, no punct, >= 5 tokens


def test_token_stats_counts(spark):
    df = spark.createDataFrame(
        [("en", "a b c"), ("en", "a b"), ("fr", "x y")],
        "lang string, text string")
    got = {r.lang: r for r in token_stats(df).collect()}
    assert got["en"].n_docs == 2
    assert got["en"].total_tokens == 5
    assert got["en"].vocab == 3
    assert got["fr"].total_tokens == 2


def test_repetition_signals_known_ratios(spark):
    from serverless_data_pipeline_spark.operators.text import (
        repetition_signals,
    )
    # "a b a b a b": 6 tokens, 2 distinct; 4 trigrams (a b a, b a b,
    # a b a, b a b) with 2 distinct -> dup ratios 4/6 and 2/4.
    df = spark.createDataFrame([(1, "a b a b a b"), (2, "x y z w")],
                               "doc_id long, text string")
    got = {r.doc_id: r for r in
           repetition_signals(df, "doc_id", "text", ngram_n=3).collect()}
    r1 = got[1]
    assert (r1.tok_total, r1.tok_distinct) == (6, 2)
    assert abs(r1.dup_token_ratio - 4 / 6) < 1e-6
    assert (r1.ngram_total, r1.ngram_distinct) == (4, 2)
    assert abs(r1.dup_ngram_ratio - 0.5) < 1e-6
    r2 = got[2]  # all-unique text: zero duplication
    assert r2.dup_token_ratio == 0.0 and r2.dup_ngram_ratio == 0.0


def test_redact_pii_counts_and_output(spark):
    from serverless_data_pipeline_spark.operators.text import redact_pii
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or call 5551234567 now"),
         (2, "clean text with no pii at all")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    r1 = got[1]
    assert (r1.n_email, r1.n_digit_run, r1.n_redactions) == (1, 1, 2)
    assert r1.redacted_text == \
        "mail [REDACTED] or call [REDACTED] now"
    r2 = got[2]
    assert r2.n_redactions == 0 and r2.redacted_text == r2.text


def test_lm_score_exact_tiny_corpus(spark):
    """Hand-checkable add-k bigram LM: corpus 'a b a b' + 'c d',
    V=4, k=0.5 — every probability and the quantized mean are exact."""
    import math

    from serverless_data_pipeline_spark.operators.text import lm_score
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d")], "doc_id long, text string")
    got = {r.doc_id: r for r in lm_score(docs).collect()}

    def q(p):  # the operator's 6dp-quantized log2
        return round(round(math.log2(p), 6) * 1e6)

    p_ba = (2 + 0.5) / (2 + 0.5 * 4)   # P(b|a): c12=2, c1=2
    p_ab = (1 + 0.5) / (1 + 0.5 * 4)   # P(a|b): c12=1, c1=1
    p_dc = (1 + 0.5) / (1 + 0.5 * 4)   # P(d|c)
    exp1 = (2 * q(p_ba) + q(p_ab)) / (3 * 1e6)
    exp2 = q(p_dc) / 1e6
    assert got[1].n_bigrams == 3 and got[2].n_bigrams == 1
    assert abs(got[1].lm_logp - exp1) < 1e-12
    assert abs(got[2].lm_logp - exp2) < 1e-12


def test_lm_score_flags_atypical_doc(spark):
    """A doc whose bigrams never repeat in the corpus must score below
    docs made of the corpus's dominant bigrams, and single-token docs
    are absent (no bigram evidence)."""
    from serverless_data_pipeline_spark.operators.text import lm_score
    common = [(i, "the cat sat on the mat") for i in range(10)]
    docs = spark.createDataFrame(
        common + [(99, "zx qv pl mn zx qv"), (100, "solo")],
        "doc_id long, text string")
    got = {r.doc_id: r.lm_logp for r in lm_score(docs).collect()}
    assert 100 not in got
    # decisively lower likelihood (self-training includes doc 99's own
    # repeated bigram, so the gap is real but not unbounded)
    assert got[99] < got[0] - 0.5


def test_lm_score_separate_reference_corpus(spark):
    """Scoring against an explicit reference: bigrams unseen in ref get
    the OOV floor log2(k / (k*V)) = -log2(V)."""
    import math

    from serverless_data_pipeline_spark.operators.text import lm_score
    ref = spark.createDataFrame(
        [(1, "a b a b a b")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(7, "x y")], "doc_id long, text string")
    row = lm_score(docs, ref=ref).collect()[0]
    # V=2 ('a','b'); unseen history: (0+0.5)/(0+0.5*2) = 0.5
    assert abs(row.lm_logp - round(math.log2(0.5), 6)) < 1e-9


def test_classifier_quality_score_fixed_weights(spark):
    """X14 fastText-style classifier: deterministic, bounded to (0,1),
    empty docs score sigmoid(bias), and a doc made of positive-weight
    tokens must outscore a doc of negative-weight tokens (weights looked
    up via the same md5-bucket rule in pure Python)."""
    import hashlib
    import math

    from serverless_data_pipeline_spark.operators.text import (
        classifier_quality_score, default_quality_weights,
    )
    w = default_quality_weights()
    assert len(w) == 512 and all(-1.0 <= x <= 1.0 for x in w)

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 512

    cands = [f"tok{i}" for i in range(200)]
    pos = max(cands, key=lambda t: w[bucket(t)])
    neg = min(cands, key=lambda t: w[bucket(t)])
    assert w[bucket(pos)] > 0 > w[bucket(neg)]
    df = spark.createDataFrame(
        [(1, " ".join([pos] * 8)), (2, " ".join([neg] * 8)), (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.q_prob) for r in
           classifier_quality_score(df, weights=w).collect()}
    assert out[3] == (0, 0.5)                       # sigmoid(0)
    assert out[1][0] == 8 and out[2][0] == 8
    assert out[1][1] > 0.5 > out[2][1]
    # closed form: sigmoid(mean of the quantized token weights)
    exp1 = 1.0 / (1.0 + math.exp(-round(w[bucket(pos)], 6)))
    assert abs(out[1][1] - exp1) < 1e-6
    out2 = {r.doc_id: r.q_prob for r in
            classifier_quality_score(df, weights=w).collect()}
    assert out2 == {k: v[1] for k, v in out.items()}

    import pytest

    with pytest.raises(ValueError):
        classifier_quality_score(df, weights=[])


def test_bm25_topk_hand_computed_ranking(spark):
    import math

    from serverless_data_pipeline_spark.operators.text import bm25_topk
    docs = spark.createDataFrame(
        [(1, "cat cat cat dog"),        # tf(cat)=3, dl=4
         (2, "cat mouse mouse mouse"),  # tf(cat)=1, dl=4
         (3, "dog dog bird bird"),      # no match
         (4, "CAT")],                   # tf=1, dl=1 (case-folded)
        "doc_id long, text string")
    out = bm25_topk(docs, "doc_id", "text", "cat", k=10).collect()
    got = {r.doc_id: r.bm25 for r in out}
    assert set(got) == {1, 2, 4}                  # doc 3 never matches
    # hand BM25: N=4, df=3, idf=round(ln(1+(4-3+.5)/(3+.5)),6);
    # avgdl=13/4
    idf = round(math.log(1 + 1.5 / 3.5), 6)
    avgdl = 13 / 4

    def s(tf, dl):
        return idf * (tf * 2.2) / (tf + 1.2 * (1 - .75 + .75 * dl
                                               / avgdl))
    for d, tf, dl in ((1, 3, 4), (2, 1, 4), (4, 1, 1)):
        assert abs(got[d] - s(tf, dl)) < 1e-9, d
    # ranking: high-tf doc first, then the short doc (dl boost), then
    # the long single-hit doc
    ranked = [r.doc_id for r in out]
    assert ranked == sorted(got, key=lambda d: (-got[d], d))
    assert got[1] > got[4] > got[2]


def test_bm25_topk_multi_term_and_validation(spark):
    import pytest

    from serverless_data_pipeline_spark.operators.text import bm25_topk
    docs = spark.createDataFrame(
        [(i, ("alpha beta " if i % 2 == 0 else "beta gamma ") * (i + 1))
         for i in range(20)], "doc_id long, text string")
    # k bounds the output; scores are monotone in the ranking order
    out = bm25_topk(docs, "doc_id", "text", "alpha gamma", k=5).collect()
    assert len(out) == 5
    scores = [r.bm25 for r in out]
    assert scores == sorted(scores, reverse=True)
    # duplicate query terms collapse; empty rejects
    a = bm25_topk(docs, "doc_id", "text", "alpha alpha", k=3).collect()
    b = bm25_topk(docs, "doc_id", "text", "alpha", k=3).collect()
    assert [(r.doc_id, r.bm25) for r in a] == \
        [(r.doc_id, r.bm25) for r in b]
    with pytest.raises(ValueError):
        bm25_topk(docs, "doc_id", "text", "   ")
    # top-k plans as a heap, not a global sort
    plan = bm25_topk(docs, "doc_id", "text", "alpha") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_top_tfidf_terms_ranking_and_ties(spark):
    from serverless_data_pipeline_spark.operators.text import (
        top_tfidf_terms,
    )
    docs = spark.createDataFrame(
        [(1, "apple apple banana common common common"),
         (2, "banana cherry common common"),
         (3, "apple cherry date common"),
         (4, "")],
        "doc_id long, text string")
    got = {r.doc_id: r.top_terms for r in
           top_tfidf_terms(docs, "doc_id", "text", top_n=2).collect()}
    # hand-check (N=4 incl. the empty doc): doc1 apple tf2·ln(5/3)
    # beats common tf3·ln(5/4) beats banana tf1·ln(5/3); doc2's
    # banana/cherry tie breaks alphabetically; doc3's df=1 'date'
    # outranks the apple/cherry tie
    assert got[1] == "apple,common"
    assert got[2] == "banana,cherry"
    assert got[3] == "date,apple"
    assert 4 not in got          # token-less docs are absent by contract
    import pytest
    with pytest.raises(ValueError):
        top_tfidf_terms(docs, "doc_id", "text", top_n=0)


# ---------------------------------------------------------------- C4 / Gopher

def test_c4_clean_line_rules(spark):
    from serverless_data_pipeline_spark.operators.text import c4_clean
    df = spark.createDataFrame(
        [(1, "Alpha beta gamma delta epsilon.\n"      # kept
             "please enable javascript here now.\n"   # token drop
             "too short.\n"                           # < 5 words
             "no terminal punctuation on this line\n" # no punct
             "Did this question line make it in?")],  # kept
        ["doc_id", "text"])
    row = c4_clean(df).collect()[0]
    assert (row.n_lines, row.kept_lines, row.dropped_lines) == (5, 2, 3)
    assert row.doc_dropped == 0
    assert row.clean_text == ("Alpha beta gamma delta epsilon.\n"
                              "Did this question line make it in?")


def test_c4_clean_doc_level_drop(spark):
    from serverless_data_pipeline_spark.operators.text import c4_clean
    df = spark.createDataFrame(
        [(1, "Perfectly good first line right here.\n"
             "this page is lorem ipsum filler."),
         (2, "A fine line with enough words here.\nif (x) { y(); }"),
         (3, "A fine line with enough words here.")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in c4_clean(df).collect()}
    assert out[1].doc_dropped == 1 and out[1].kept_lines == 0
    assert out[1].dropped_lines == out[1].n_lines == 2
    assert out[1].clean_text == ""
    assert out[2].doc_dropped == 1          # curly brace anywhere
    assert out[3].doc_dropped == 0 and out[3].kept_lines == 1


def test_c4_clean_empty_and_no_newline(spark):
    from serverless_data_pipeline_spark.operators.text import c4_clean
    df = spark.createDataFrame(
        [(1, ""), (2, "one single kept line with words.")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in c4_clean(df).collect()}
    assert (out[1].n_lines, out[1].kept_lines, out[1].clean_text) == (0, 0, "")
    assert (out[2].n_lines, out[2].kept_lines) == (1, 1)


def test_gopher_rules_each_rule_fires(spark):
    from serverless_data_pipeline_spark.operators.text import gopher_rules
    good = ("the cat sat and the dog ran with joy over all of that "
            "green field near the old barn door today again happily")
    rows = [
        (1, good),                                   # passes everything
        (2, "tiny words only here"),                 # word count
        (3, "### " * 30 + good),                     # symbol ratio
        (4, "\n".join(["- bullet line"] * 10) + "\n" + good),  # bullets
        (5, "\n".join(["trailing dots..."] * 10) + "\n" + good),  # ellipsis
        (6, " ".join(str(i) for i in range(30)) + " " + good),  # alpha frac
        (7, good.replace("the", "xx").replace("and", "yy")
            .replace("of", "zz").replace("with", "ww")),  # stop words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           gopher_rules(df, min_words=20, max_bullet_frac=0.5,
                        max_ellipsis_frac=0.3).collect()}
    assert out[1].g_keep == 1
    assert out[2].g_keep == 0 and out[2].g_n_words == 4
    assert out[3].g_keep == 0 and out[3].g_symbol_ratio > 0.1
    assert out[4].g_keep == 0 and out[4].g_bullet_frac > 0.5
    assert out[5].g_keep == 0 and out[5].g_ellipsis_frac > 0.3
    assert out[6].g_keep == 0 and out[6].g_alpha_frac < 0.8
    assert out[7].g_keep == 0 and out[7].g_stop_hits < 2
    assert out[1].g_stop_hits >= 4


def test_gopher_rules_mean_word_len_and_empty(spark):
    from serverless_data_pipeline_spark.operators.text import gopher_rules
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
         (2, ""),
         (3, " ".join(["supercalifragilistic"] * 25))],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_rules(df, min_words=5).collect()}
    assert out[1].g_mean_word_len == 1.0 and out[1].g_keep == 0
    assert out[2].g_n_words == 0 and out[2].g_keep == 0
    assert out[3].g_mean_word_len == 20.0 and out[3].g_keep == 0


def test_dsir_select_prefers_target_like_docs(spark):
    """DSIR law: docs written in the target domain's vocabulary get
    higher importance weights than out-of-domain docs and are the ones
    kept at keep_frac; never-scored docs (no bigram) are flagged not
    kept, not dropped from the frame."""
    from serverless_data_pipeline_spark.operators.text import dsir_select
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
        "doc_id long, text string")
    rows = ([(i, "alpha beta gamma delta") for i in range(4)]
            + [(10 + i, "red green blue yellow purple") for i in range(12)]
            + [(50, "solo")])          # single token: no bigram evidence
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dsir_select(df, target, keep_frac=0.25)
    assert out.count() == 17           # row-preserving flag semantics
    got = {r.doc_id: r for r in out.collect()}
    assert got[50].dsir_weight is None and not got[50].dsir_kept
    kept = {i for i, r in got.items() if r.dsir_kept}
    assert kept == {0, 1, 2, 3}        # exactly the target-like quarter
    w_in = min(got[i].dsir_weight for i in range(4))
    w_out = max(got[10 + i].dsir_weight for i in range(12))
    assert w_in > w_out
    # keep_frac=1 keeps every scored doc; invalid fracs raise
    all_kept = dsir_select(df, target, keep_frac=1.0)
    assert all_kept.filter("dsir_weight is not null and not dsir_kept") \
        .count() == 0
    import pytest
    with pytest.raises(ValueError):
        dsir_select(df, target, keep_frac=0.0)


def test_dsir_select_approx_mode_agrees_on_separated_data(spark):
    """exact=False (percentile sketch) — the 100 TB path — must keep
    every target-like doc; the nearest-rank threshold may admit at most
    the single boundary doc beyond the exact-interpolation cut (and
    with a mass point AT the threshold it admits the whole tie class —
    a distribution property, not a sketch error, so the fixture keeps
    every out-of-domain weight distinct and strictly negative; i+3
    repetitions, not i+2, because at i+2 the w0-doc's add-k score is
    (0.5)/(0.5*6) under the target model and (1.5)/(1+0.5*16) under
    the raw model — both exactly 0.375 — a smoothing coincidence that
    would tie it with the in-domain docs at weight 0)."""
    from serverless_data_pipeline_spark.operators.text import dsir_select
    target = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    rows = ([(i, "alpha beta gamma delta") for i in range(4)]
            + [(10 + i, (f"w{i} " * (i + 3)).strip())
               for i in range(12)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact_kept = {r.doc_id
                  for r in dsir_select(df, target, keep_frac=0.25)
                  .filter("dsir_kept").collect()}
    approx_kept = {r.doc_id
                   for r in dsir_select(df, target, keep_frac=0.25,
                                        exact=False)
                   .filter("dsir_kept").collect()}
    assert exact_kept == {0, 1, 2, 3}
    assert approx_kept >= exact_kept and len(approx_kept) <= 5


def test_lexicon_tag_counts_top_and_block(spark):
    """Lexicon gate laws: hit counts include multiplicity and are
    case-insensitive exact-token matches (no substring hits); dominant
    tag = most hits with ties broken by category name; no hits -> NULL
    tag; blocked requires min_hits from a block category; unknown
    block category and empty lexicons raise."""
    import pytest as _pt

    from serverless_data_pipeline_spark.operators.text import lexicon_tag
    lex = {"db": ["table", "row"], "app": ["spark", "batch"],
           "bad": ["slow"]}
    rows = [
        (0, "Table TABLE row spark"),      # db=3, app=1 -> db
        (1, "spark batch table row"),      # tie 2-2 -> 'app' < 'db'
        (2, "tables rowing sparky"),       # substrings must NOT hit
        (3, "slow"),                       # 1 bad hit < min_hits=2
        (4, "slow slow convoy"),           # blocked
    ]
    out = {r.doc_id: r for r in lexicon_tag(
        spark.createDataFrame(rows, "doc_id long, text string"),
        lexicons=lex, block_categories=("bad",), min_hits=2).collect()}
    assert out[0].lex_db == 3 and out[0].lex_app == 1
    assert out[0].lex_top == "db"
    assert out[1].lex_top == "app"                  # tie -> name order
    assert out[2].lex_db == 0 and out[2].lex_top is None
    assert not out[3].lex_blocked and out[4].lex_blocked
    with _pt.raises(ValueError):
        lexicon_tag(spark.range(1), lexicons={})
    with _pt.raises(ValueError):
        lexicon_tag(spark.range(1), lexicons=lex,
                    block_categories=("nope",))
    # min_hits=0 would block EVERY doc; multi-word/empty entries can
    # never match a single token — both must raise, not silently no-op
    with _pt.raises(ValueError):
        lexicon_tag(spark.range(1), lexicons=lex,
                    block_categories=("bad",), min_hits=0)
    with _pt.raises(ValueError):
        lexicon_tag(spark.range(1), lexicons={"x": ["hit man"]})
    with _pt.raises(ValueError):
        lexicon_tag(spark.range(1), lexicons={"x": ["ok", ""]})


def test_char_entropy_hand_values(spark):
    """Shannon entropy laws against hand-computed values: 'aabb' ->
    exactly 1.0 bit; 'ab' -> 1.0; 'aaaa' (one-symbol alphabet) -> 0.0
    (and never -0.0); uniform 4-char -> 2.0; empty text -> NULL
    (row-preserved); natural prose lands between repetition and a
    uniform alphabet."""
    import math

    from serverless_data_pipeline_spark.operators.text import char_entropy
    rows = [(0, "aabb"), (1, "aaaa"), (2, "abcd"), (3, ""),
            (4, "the cat sat on the mat")]
    out = {r.doc_id: r for r in char_entropy(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert len(out) == 5
    assert out[0].char_entropy == 1.0 and out[0].n_distinct_chars == 2
    assert out[1].char_entropy == 0.0
    assert math.copysign(1.0, out[1].char_entropy) == 1.0   # not -0.0
    assert out[2].char_entropy == 2.0 and out[2].n_distinct_chars == 4
    assert out[3].char_entropy is None
    # hand-check doc 4: counts over 22 chars incl. 5 spaces
    txt = "the cat sat on the mat"
    from collections import Counter
    n = len(txt)
    expect = -sum(round((c / n) * math.log2(c / n), 6) * 1000000
                  for c in Counter(txt).values()) / 1000000.0
    assert abs(out[4].char_entropy - expect) < 1e-9
    assert 0.0 < out[4].char_entropy < math.log2(out[4].n_distinct_chars) + 1e-9
