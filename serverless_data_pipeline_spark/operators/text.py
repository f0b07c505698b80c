"""Text-analysis operators (charter extension X5).

Language-ID, quality scoring, token statistics and corpus hygiene over
a `documents(doc_id, text, lang, source, n_chars)` table. Each operator
is a single narrow pass of built-in functions (+ one groupBy where an
aggregate is the point) — linear at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from serverless_data_pipeline_spark.operators.util import spread_small_input
from serverless_data_pipeline_spark.functions.text import (
    STOPWORDS, bpe_ish_tokens, shingles_from_tokens, tokens,
)

# Marker function words per language (public, standard vocabulary lists).
# Deliberately tiny + inlineable into oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "que", "los", "es"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "les", "des", "est", "une"),
}


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword-heuristic language ID: argmax marker-hit count,
    CJK codepoints short-circuit to 'zh', no hits -> 'und'. Ties break by
    language code order (deterministic). Adds `predicted_lang`.

    Tokenize ONCE, in ONE expression: the token array is bound through
    a one-element ``transform`` (a lambda variable, not a column), and
    the argmax is ``array_max`` over (score, -rank, lang) structs — the
    highest score, then the first language in sorted order. Inlined
    where a ``predicted_lang`` filter is pushed down, the expression
    carries one split; the former nested Projects with a when-chain
    argmax doubled the score references per language, and filter
    pushdown inlined every copy (41 ``split(`` in
    ``language_id(df).filter(predicted_lang.isin("en"))``'s optimized
    plan, 2 now). Same scores, same tie-break, same NULL handling."""
    df = spread_small_input(df)

    # arity-1 closure per language: a 2-arg lambda (`lambda t, _l=lang`)
    # would make F.filter pass the ELEMENT INDEX as the second argument
    # (the bm25_topk footgun).
    def _is_marker(lang: str):
        return lambda t: t.isin(*LANG_MARKERS[lang])

    def _best(toks: Column) -> Column:
        return F.array_max(F.array(*[
            F.struct(F.size(F.filter(toks, _is_marker(lang))).alias("s"),
                     F.lit(-rank).alias("r"), F.lit(lang).alias("lang"))
            for rank, lang in enumerate(sorted(LANG_MARKERS))]))

    def _one(arr: Column, fn) -> Column:
        return F.element_at(F.transform(arr, fn), 1)

    lang = _one(F.array(tokens(F.lower(F.col(text_col)))),
                lambda t: _one(F.array(_best(t)),
                               lambda b: F.when(b["s"] > 0, b["lang"])
                               .otherwise(F.lit("und"))))
    pred = (F.when(F.col(text_col).rlike(r"[一-鿿]"), F.lit("zh"))
            .otherwise(lang))
    return df.withColumn("predicted_lang", pred)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals + composite score (the X5 analogue of
    the reference's quality stage py:273-284, but per-row).

    r14 (optimization round, guide §2.3/§4.2): the signal expressions
    share three heavy subtrees — `tokens(text)` (q_tokens + the
    structure signal), `tokens(lower(text))` (stopword ratio, twice),
    and the two punct/nonspace regexp_replace lengths (q_punct_ratio +
    the low-punct signal). Inlined per signal they evaluated ~6 splits
    + 4 regexp_replace per row (fresh lambda ids defeat runtime CSE);
    materialized once in a nested Project it is 2 splits + 2
    regexp_replace. The derived expressions are the same formulas over
    the shared columns, so every output value is unchanged (the x5
    oracle hash pins this)."""
    df = spread_small_input(df)
    c = F.col(text_col)
    toked = df.select(
        "*",
        tokens(c).alias("__qf_toks"),
        tokens(F.lower(c)).alias("__qf_ltoks"),
        F.length(F.regexp_replace(c, r"\s", "")).alias("__qf_nsp"),
        F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
        .alias("__qf_pn"))
    ntok = F.size("__qf_toks")
    pr = F.when(F.col("__qf_nsp") > 0,
                F.col("__qf_pn").cast("double")
                / F.col("__qf_nsp").cast("double")).otherwise(F.lit(0.0))
    nl = F.size("__qf_ltoks")
    sw = F.size(F.filter(F.col("__qf_ltoks"),
                         lambda t: t.isin(*STOPWORDS)))
    swr = F.when(nl > 0, sw.cast("double") / nl.cast("double")) \
        .otherwise(F.lit(0.0))
    # quality_signal_count's three signals over the shared columns —
    # same thresholds, same when-shapes (len-in-range, punct_ratio
    # <= 0.3, >= 5 unlowered tokens), accumulated as the same exact
    # integer count before the /3 mean.
    len_ok = F.when((F.length(c) >= 20) & (F.length(c) <= 100_000), 1) \
        .otherwise(0)
    punct_ok = F.when(pr <= 0.3, 1).otherwise(0)
    struct_ok = F.when(ntok >= 5, 1).otherwise(0)
    q_score = F.round(
        (len_ok + punct_ok + struct_ok).cast("long").cast("double")
        / F.lit(3.0), 6)
    return (toked.select(
        "*",
        F.length(c).alias("q_chars"),
        ntok.cast("long").alias("q_tokens"),
        F.round(pr, 6).alias("q_punct_ratio"),
        F.round(swr, 6).alias("q_stopword_ratio"),
        q_score.alias("q_score"))
        .drop("__qf_toks", "__qf_ltoks", "__qf_nsp", "__qf_pn"))


def token_stats(df: DataFrame, text_col: str = "text",
                group_col: str = "lang") -> DataFrame:
    """Corpus token statistics per group: docs, whitespace-token counts,
    BPE-ish subword counts, avg tokens/doc, distinct vocabulary size."""
    df = spread_small_input(df)
    # r14: one split per row — n_tok derives from the same materialized
    # token array the vocab explode reads (was a second inline split).
    per_doc = (df.select(
        F.col(group_col),
        F.size(bpe_ish_tokens(text_col)).cast("long").alias("n_bpe"),
        tokens(text_col).alias("toks"))
        .select(group_col, F.size("toks").cast("long").alias("n_tok"),
                "n_bpe", "toks"))
    return (per_doc
            .select(group_col, "n_tok", "n_bpe", F.explode("toks").alias("tok"))
            .groupBy(group_col)
            .agg(
                F.count_distinct("tok").alias("vocab"),
            )
            .join(
                per_doc.groupBy(group_col).agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_tok").alias("total_tokens"),
                    F.sum("n_bpe").alias("total_bpe_tokens"),
                    F.round(F.avg("n_tok"), 4).alias("avg_tokens")),
                group_col)
            .select(group_col, "n_docs", "total_tokens", "total_bpe_tokens",
                    "avg_tokens", "vocab"))


# PII-ish patterns, deliberately dialect-portable (same regex text works in
# Java regex and DuckDB's RE2): emails, then standalone digit runs >= 4
# (account/phone-number-ish). Order matters — emails are redacted first so
# their digits don't double-count as digit runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("digit_run", r"[0-9]{4,}"),
)


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", ngram_n: int = 3) -> DataFrame:
    """Intra-document repetition signals — the Gopher-style quality
    filters that catch boilerplate and degenerate generations: the
    fraction of duplicate tokens and of duplicate word n-grams within
    each document. Returns (id, tok_total, tok_distinct, dup_token_ratio,
    ngram_total, ngram_distinct, dup_ngram_ratio).

    One narrow projection per row — token and shingle arrays are built
    and measured in-expression (size vs size(array_distinct)), no
    explode, no shuffle, no Python. At 100 TB this runs at scan speed and
    composes with the quality gate (plans/pipeline.py) as one more
    columnar signal."""
    df = spread_small_input(df)
    # r14 (guide §2.3/§4.2): materialize the token and shingle arrays
    # once — inlined, the split re-ran inside every size/array_distinct
    # reference (~10 splits + 2 shingle-chain builds per row; fresh
    # lambda ids defeat runtime CSE). Same measured values.
    base = (df.select("*", tokens(text_col).alias("__rs_toks"))
            .select("*", shingles_from_tokens("__rs_toks", ngram_n)
                    .alias("__rs_sh")))
    toks, sh = F.col("__rs_toks"), F.col("__rs_sh")
    tt, td = F.size(toks), F.size(F.array_distinct(toks))
    nt, nd = F.size(sh), F.size(F.array_distinct(sh))
    ratio = lambda tot, dis: F.round(
        F.when(tot > 0, 1.0 - dis.cast("double") / tot.cast("double"))
         .otherwise(F.lit(0.0)), 6)
    return base.select(
        F.col(id_col),
        tt.cast("long").alias("tok_total"),
        td.cast("long").alias("tok_distinct"),
        ratio(tt, td).alias("dup_token_ratio"),
        nt.cast("long").alias("ngram_total"),
        nd.cast("long").alias("ngram_distinct"),
        ratio(nt, nd).alias("dup_ngram_ratio"))


def redact_pii(df: DataFrame, text_col: str = "text",
               patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
               replacement: str = "[REDACTED]") -> DataFrame:
    """Pattern-based PII-style scrubbing — the redaction pass a corpus
    takes before training. Replaces every match of each pattern (in
    order) with ``replacement`` and counts matches per pattern into
    ``n_<name>`` columns plus a ``n_redactions`` total.

    All regexp_replace/regexp_count built-ins: narrow, codegen'd, no
    shuffle. Counts are computed on the PRE-redaction text for the first
    pattern and on the progressively-redacted text for later ones, so
    overlapping patterns never double-count (order patterns most- to
    least-specific)."""
    df = spread_small_input(df)
    out = df
    redacted = F.col(text_col)
    total = F.lit(0).cast("long")
    for name, pat in patterns:
        cnt = F.regexp_count(redacted, F.lit(pat)).cast("long")
        out = out.withColumn(f"n_{name}", cnt)
        total = total + F.col(f"n_{name}")
        redacted = F.regexp_replace(redacted, pat, replacement)
    return (out.withColumn("redacted_text", redacted)
               .withColumn("n_redactions", total))


def lm_score(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", ref: DataFrame | None = None,
             add_k: float = 0.5) -> DataFrame:
    """X13 — statistical LM quality scoring (the CCNet recipe: score each
    document by a language model trained on reference text; low-probability
    docs are gibberish/boilerplate candidates). Model = add-k-smoothed
    bigram LM over word tokens; score = mean log2 P(w_i | w_{i-1}).

    ``ref`` is the training corpus (default: ``docs`` itself — self-scoring
    flags a doc as atypical for its own corpus). At 100 TB train on a
    bounded reference sample: the count tables then broadcast and the scan
    side never shuffles; self-training keeps everything keyed-shuffle
    (two groupBys + two hash joins on token keys), still linear.

    Returns (id, n_bigrams, lm_logp) for docs with >= 1 bigram (single-token
    and empty docs have no bigram evidence and are dropped — gate them with
    quality_features instead). Determinism: each bigram's log2-prob is
    rounded to 6dp and accumulated with exact integer arithmetic (the _msum
    discipline), so the mean is reproducible across engines and partition
    orders."""
    # r13 (optimization round): spread_small_input on docs/ref was
    # A/B-measured and REJECTED here — x13 instantiates this subtree
    # ~8x across its arms, so the added repartition exchanges cost more
    # than the parallelized explode saves (interleaved min-of-3 at
    # sf0.1: 5.7 s without vs 6.3 s with).
    ref = docs if ref is None else ref

    def bigrams(df: DataFrame) -> DataFrame:
        return (df.select(F.col(id_col), tokens(text_col).alias("__t"))
                .filter(F.size("__t") >= 2)
                .select(F.col(id_col), F.explode(F.expr(
                    "transform(sequence(1, size(__t) - 1), "
                    "i -> struct(__t[i-1] AS w1, __t[i] AS w2))"))
                    .alias("b"))
                .select(F.col(id_col), F.col("b.w1").alias("w1"),
                        F.col("b.w2").alias("w2")))

    ref_bg = bigrams(ref)
    c12 = ref_bg.groupBy("w1", "w2").agg(F.count("*").alias("__c12"))
    # r13 (optimization round, guide §2.3 "shuffle fewer bytes"): the
    # unigram context count is the w2-marginal of the bigram table —
    # Σ_w2 c12(w1, w2) ≡ count of bigram occurrences led by w1 — so
    # derive it from c12 instead of re-exploding the whole ref corpus
    # into a second full-volume groupBy(w1) shuffle. The second
    # aggregation runs over DISTINCT bigrams (bounded by vocab², in
    # practice a small fraction of corpus bigram occurrences).
    # r14 adjudication (verdict #5): the executed AQE plan shows the
    # duplicated c12 subtree does NOT dedupe at runtime
    # (plans/r14/x13_lm_score_executed.txt: ReusedExchange = 0 — the
    # r13 claim of a ReuseExchange collapse was wrong), yet the form
    # still wins where it matters: interleaved A/B at 10x corpus,
    # 8.5-9.0 s vs 9.3 s two-pass (and a wash at sf0.1) — the
    # distinct-bigram re-aggregation is cheaper than a second corpus
    # explode+shuffle, and the gap grows with corpus size. An eager
    # c12 checkpoint (run-once + leaf) was ALSO measured and rejected
    # at both scales (1.9/10.1 s vs 1.7/9.0 s): the blocking
    # materialization costs more than the duplicated narrow recompute,
    # the same verdict as every previous checkpoint A/B here.
    c1 = c12.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    vocab = (ref.select(F.explode(tokens(text_col)).alias("__w"))
             .agg(F.countDistinct("__w").alias("__v")))

    logp = F.round(F.log2(
        (F.coalesce(F.col("__c12"), F.lit(0)) + F.lit(add_k))
        / (F.coalesce(F.col("__c1"), F.lit(0)) + F.lit(add_k) * F.col("__v"))
    ), 6)
    scored = (bigrams(docs)
              .join(c12, ["w1", "w2"], "left")
              .join(c1, ["w1"], "left")
              .crossJoin(F.broadcast(vocab))
              .select(F.col(id_col), logp.alias("__lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 (F.sum(F.round(F.col("__lp") * 1000000).cast("long"))
                  / (F.count("*") * F.lit(1000000.0))).alias("lm_logp")))


def dsir_select(df: DataFrame, target: DataFrame,
                id_col: str = "doc_id", text_col: str = "text", *,
                keep_frac: float = 0.25, add_k: float = 0.5,
                exact: bool = True,
                self_lm: DataFrame | None = None) -> DataFrame:
    """DSIR-style domain-targeted data selection (Xie et al., NeurIPS
    2023, "Data Selection for Language Models via Importance
    Resampling"): pick raw documents whose n-gram distribution looks
    like a TARGET domain. Each doc's importance weight is the
    log-likelihood ratio ``log2 P_target(doc) - log2 P_raw(doc)`` under
    two add-k bigram LMs (the same ``lm_score`` model, trained once on
    the target corpus and once on the raw corpus itself — the paper's
    hashed-n-gram feature models, with the bigram table in their
    place). Selection keeps the top ``keep_frac`` by weight — the
    deterministic zero-temperature limit of the paper's importance
    resampling, which makes the whole decision value-checkable.

    Returns ``df`` + ``dsir_weight`` (round-6, NULL for docs with no
    bigram evidence) + ``dsir_kept`` (weight >= the in-plan
    ``1 - keep_frac`` percentile threshold; never-scored docs are not
    kept — gate them separately). Flags, not drops — compose with a
    filter, like ``decontaminate``.

    Scale shape: two ``lm_score`` passes over ``df`` (the target-model
    pass broadcasts its count tables when the target is a bounded
    domain sample — the DSIR setting; the raw self-model keys two
    shuffles, linear) plus ONE aggregate-row threshold broadcast back
    (the ``quantile_buckets`` discipline: no driver round trip, no
    global sort window; ``exact=False`` switches to the bounded-memory
    percentile sketch at 100 TB).

    ``self_lm`` (optional) supplies an
    already-computed self-model score frame — ``lm_score(df, ...)``
    output or anything with (id_col, lm_logp) — so a caller that has
    ALREADY scored the corpus (the usual case: DSIR composes with the
    CCNet scoring pass) doesn't pay a second full LM build."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError("keep_frac must be in (0, 1]")
    t = (lm_score(df, id_col, text_col, ref=target, add_k=add_k)
         .select(id_col, F.col("lm_logp").alias("__lt")))
    r = ((self_lm if self_lm is not None
          else lm_score(df, id_col, text_col, add_k=add_k))
         .select(id_col, F.col("lm_logp").alias("__lr")))
    w = (t.join(r, id_col)
         .select(F.col(id_col),
                 F.round(F.col("__lt") - F.col("__lr"), 6)
                 .alias("dsir_weight")))
    q = 1.0 - keep_frac
    th_expr = (F.expr(f"percentile(dsir_weight, {q!r})") if exact
               else F.expr(f"approx_percentile(dsir_weight, {q!r}, "
                           "10000)"))
    th = w.agg(F.round(th_expr, 6).alias("__th"))
    w = w.crossJoin(F.broadcast(th))
    return (df.join(w, id_col, "left")
            .withColumn("dsir_kept",
                        F.coalesce(F.col("dsir_weight") >= F.col("__th"),
                                   F.lit(False)))
            .drop("__th"))


def default_quality_weights(n_buckets: int = 512,
                            seed: int = 1234) -> list[float]:
    """The committed stand-in weight vector for classifier_quality_score:
    a deterministic LCG fill in [-1, 1] at 6-decimal resolution. A real
    deployment trains these offline (logistic regression / fastText on
    labeled quality data) and ships them as exactly this kind of frozen
    constant — the ENGINE contract (fixed broadcast weights, one narrow
    scoring pass, bit-reproducible scores) is what this module provides,
    and it is independent of where the numbers came from."""
    w, state = [], seed & 0x7FFFFFFF
    for _ in range(n_buckets):
        state = (1103515245 * state + 12345) % (1 << 31)
        w.append((state % 2000001 - 1000000) / 1e6)
    return w


def classifier_quality_score(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", *,
                             weights: list[float],
                             bias: float = 0.0,
                             out_col: str = "q_prob") -> DataFrame:
    """X14 — model-based quality scoring: a fastText-style linear text
    classifier (Joulin et al., "Bag of Tricks for Efficient Text
    Classification", 2017 — the public recipe behind the CCNet/LLaMA
    quality filters) over hashed bag-of-token features:

        p(quality) = sigmoid(bias + mean_t w[h(t) mod B])

    with ``B = len(weights)`` hash buckets. The weight vector is a FIXED
    constant folded into the plan (the broadcast-scalar shape of a
    deployed classifier — training happens offline), so scoring is ONE
    narrow projection: no shuffle, no joins, no Python; a 100 TB corpus
    scores at scan speed, composable with the other gates as one more
    columnar signal.

    Engine-portable determinism: the token hash is the first 8 hex
    digits of md5 (identical in Spark and DuckDB RE2/md5 — xxhash64
    would not be oracle-checkable), and weights are quantized to 1e-6
    micro-units summed in EXACT integer arithmetic (the _msum
    discipline: |w_int| <= 1e6, so even 2^40 tokens stay under 2^53),
    making the pre-sigmoid logit bit-identical across engines and
    partition orders. Empty docs score sigmoid(bias). Returns
    (id, n_tokens, ``out_col``)."""
    b = len(weights)
    if b < 1:
        raise ValueError("weights must be non-empty")
    w_int = F.array(*[F.lit(int(round(float(x) * 1e6))).cast("long")
                      for x in weights])
    # r14: tokenize once — `n` is referenced four times downstream and
    # each inline reference re-ran the split (fresh lambda ids defeat
    # runtime CSE). The md5 bucket transform itself always ran once.
    toked = df.select(F.col(id_col), tokens(text_col).alias("__cq_toks"))
    tw = F.transform(F.col("__cq_toks"), lambda t: F.element_at(
        w_int, (F.pmod(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
            F.lit(b)) + 1).cast("int")))
    s = F.aggregate(tw, F.lit(0).cast("long"), lambda acc, x: acc + x)
    sized = toked.select(F.col(id_col),
                         F.size("__cq_toks").alias("__cq_n"),
                         s.alias("__cq_s"))
    n = F.col("__cq_n")
    z = (F.lit(float(bias))
         + F.when(n > 0, F.col("__cq_s") / (n.cast("double") * F.lit(1e6)))
            .otherwise(F.lit(0.0)))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return sized.select(F.col(id_col), n.cast("long").alias("n_tokens"),
                        F.round(prob, 6).alias(out_col))


def bm25_topk(df: DataFrame, id_col: str, text_col: str, query: str, *,
              k1: float = 1.2, b: float = 0.75, k: int = 10,
              score_col: str = "bm25") -> DataFrame:
    """Ranked keyword search — Okapi BM25 top-k over the corpus (the
    lexical retrieval surface beside X3's vector top-k; Robertson &
    Spärck Jones' probabilistic weighting in its standard form):

        score(d) = Σ_t idf_t · tf_td·(k1+1) / (tf_td + k1·(1-b+b·dl/avgdl))
        idf_t    = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))

    over the DISTINCT lower-cased whitespace terms of ``query``. Only
    docs matching >= 1 term are returned, ranked ``score desc, id`` and
    limited to ``k`` (TakeOrderedAndProject — an O(k)-per-task heap,
    never a global sort).

    Engine-portable by construction: per-term tf and dl are exact
    integer array ops; the corpus statistics (N, Σdl, per-term df) are
    ONE aggregate row broadcast back; idf is quantized to 6 decimals
    BEFORE entering the score so a last-ulp ``ln`` difference across
    engines cannot propagate, and the term sum is built in sorted term
    order so float addition associates identically.

    Scale shape: one narrow tf/dl projection over one scan + one tiny
    all-column aggregate (the stats row) + the top-k heap. No shuffle
    except the O(k) ordered collect; no Python in the row path."""
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("query must contain at least one term")
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__toks"))

    # arity-1 closure per term: a 2-arg lambda (`lambda x, t=t`) would
    # make F.filter pass the ELEMENT INDEX as the second argument,
    # silently comparing tokens against positions
    def _eq(term: str):
        return lambda x: x == term

    proj = base.select(
        id_col, F.size("__toks").alias("__dl"),
        *[F.size(F.filter("__toks", _eq(t)))
          .alias(f"__tf_{i}") for i, t in enumerate(terms)])
    stats = proj.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum("__dl").alias("__sumdl"),
        *[F.sum((F.col(f"__tf_{i}") > 0).cast("long"))
          .alias(f"__df_{i}") for i in range(len(terms))])
    scored = proj.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl") / F.col("__N")
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.round(F.log(
            F.lit(1.0) + (F.col("__N") - F.col(f"__df_{i}") + 0.5)
            / (F.col(f"__df_{i}") + 0.5)), 6)
        tf = F.col(f"__tf_{i}").cast("double")
        score = score + idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("__dl") / avgdl))
    return (scored
            .withColumn(score_col, score)
            .filter(F.col(score_col) > 0)
            .select(id_col, score_col)
            .orderBy(F.col(score_col).desc(), F.col(id_col))
            .limit(k))


def top_tfidf_terms(df: DataFrame, id_col: str, text_col: str, *,
                    top_n: int = 3,
                    out_col: str = "top_terms") -> DataFrame:
    """Per-document keyword extraction: the ``top_n`` terms by TF-IDF
    (tf · smoothed idf, sklearn-style ``ln((1+N)/(1+df))``), returned
    as one comma-joined string column in rank order — the standard
    "what is this document about" signal beside X5's statistical
    quality features.

    Deterministic and engine-portable: idf is quantized to 6 decimals
    before the product (a last-ulp ``ln`` difference across engines
    cannot reorder terms), and ties break ``score desc, term asc``.

    Scale shape: one (doc, term) explode + count (the shuffle keyed on
    (doc, term)), one |vocab|-row document-frequency aggregate joined
    back on the term key (shuffled hash join — vocabulary at corpus
    scale outgrows a broadcast), one per-doc top-n window, one
    groupBy(doc) reassembly. All counts exact; no Python in the row
    path. Docs with no tokens are absent from the output (LEFT-join
    and coalesce at the call site if every doc needs a row)."""
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    tf = (df.select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("__t"))
          .groupBy(id_col, "__t").agg(F.count("*").alias("__tf")))
    n_docs = df.select(F.count(F.lit(1)).alias("__N"))
    dfreq = (tf.groupBy("__t")
             .agg(F.count("*").alias("__df"))
             .crossJoin(F.broadcast(n_docs))
             .withColumn("__idf",
                         F.round(F.log((F.col("__N") + 1.0)
                                       / (F.col("__df") + 1.0)), 6))
             .select("__t", "__idf"))
    scored = (tf.join(dfreq, "__t")
              .withColumn("__s", F.col("__tf") * F.col("__idf")))
    w = Window.partitionBy(id_col).orderBy(F.desc("__s"), F.asc("__t"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_n)
            .groupBy(id_col)
            .agg(F.concat_ws(
                ",", F.array_sort(F.collect_list(
                    F.struct("__rn", "__t"))).getField("__t"))
                .alias(out_col)))


# C4's doc-level drop phrases and line-level drop tokens (Raffel et al.
# 2020 §2.2, public recipe). Tiny and inlineable into oracle SQL.
C4_POLICY_PHRASES: tuple[str, ...] = ("lorem ipsum", "{")
C4_LINE_DROP_TOKENS: tuple[str, ...] = ("javascript", "{")
_TERMINAL_PUNCT = (".", "!", "?", '"')


def c4_clean(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", *,
             min_words_per_line: int = 5,
             policy_phrases: tuple[str, ...] = C4_POLICY_PHRASES,
             line_drop_tokens: tuple[str, ...] = C4_LINE_DROP_TOKENS,
             ) -> DataFrame:
    """C4-style line-level page cleaning (Raffel et al. 2020, "Exploring
    the Limits of Transfer Learning", §2.2 — the public recipe behind
    the C4 corpus):

    - split the page on newlines; keep only lines that (a) end in a
      terminal punctuation mark (``. ! ? "``), (b) contain at least
      ``min_words_per_line`` words, and (c) contain none of
      ``line_drop_tokens`` (case-insensitive; C4 drops "javascript"
      warnings and code-ish ``{`` lines);
    - drop the ENTIRE document when it contains any of
      ``policy_phrases`` (C4 drops "lorem ipsum" placeholder pages and
      any page with a curly brace).

    Returns (id, n_lines, kept_lines, dropped_lines, doc_dropped,
    clean_text) where ``clean_text`` is the newline-rejoin of the kept
    lines ('' when the document is dropped) and ``doc_dropped`` is an
    int 0/1 (oracle-portable). The C4 recipe's remaining step — the
    cross-document three-sentence-span dedup — is ``passage_dedup``
    (operators/corpus.py), which composes downstream.

    Scale shape: one narrow projection of higher-order functions over
    the line array — no explode, no shuffle, no Python; runs at scan
    speed on a 100 TB corpus and composes with the quality gate."""
    df = spread_small_input(df)

    def _line_kept(l: Column) -> Column:
        t = F.trim(l)
        ends_ok = F.right(t, F.lit(1)).isin(*_TERMINAL_PUNCT)
        words_ok = (F.size(F.filter(F.split(t, r"\s+"),
                                    lambda w: w != ""))
                    >= min_words_per_line)
        keep = ends_ok & words_ok
        for tok in line_drop_tokens:
            keep = keep & ~F.contains(F.lower(t), F.lit(tok.lower()))
        return keep

    doc_dropped = F.lit(False)
    for ph in policy_phrases:
        doc_dropped = doc_dropped | F.contains(F.lower(F.col(text_col)),
                                               F.lit(ph.lower()))
    # r14 (guide §2.3/§4.2): materialize the line array and the kept
    # subset once — inlined, every size/array_join reference re-split
    # the page and re-ran the per-line keep predicate (~6 evaluations
    # per row; fresh lambda ids defeat runtime CSE). Same signals.
    base = (df.select(
        F.col(id_col), F.col(text_col),
        F.filter(F.split(F.col(text_col), r"\n"),
                 lambda l: F.trim(l) != "").alias("__c4_lines"))
        .select(F.col(id_col), F.col(text_col), "__c4_lines",
                F.filter("__c4_lines", _line_kept).alias("__c4_kept")))
    lines, kept = F.col("__c4_lines"), F.col("__c4_kept")
    return base.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(doc_dropped, F.lit(0)).otherwise(F.size(kept))
         .cast("long").alias("kept_lines"),
        F.when(doc_dropped, F.size(lines))
         .otherwise(F.size(lines) - F.size(kept))
         .cast("long").alias("dropped_lines"),
        doc_dropped.cast("int").alias("doc_dropped"),
        F.when(doc_dropped, F.lit(""))
         .otherwise(F.array_join(kept, "\n")).alias("clean_text"))


# Gopher's required "stop word" presence list (Rae et al. 2021, §A1.1).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", *,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 min_alpha_frac: float = 0.8,
                 min_stop_hits: int = 2,
                 stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
                 ) -> DataFrame:
    """Gopher document-quality rule gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1 — the standard public rule-based
    corpus filter beside C4's):

    - word count in [min_words, max_words];
    - mean word length in [min_mean_word_len, max_mean_word_len];
    - symbol-to-word ratio (``#`` and ``...`` occurrences / words)
      <= max_symbol_ratio;
    - fraction of lines starting with a bullet (``-``/``*``)
      <= max_bullet_frac;
    - fraction of lines ending with an ellipsis <= max_ellipsis_frac;
    - fraction of words containing at least one alphabetic character
      >= min_alpha_frac;
    - at least ``min_stop_hits`` distinct words from ``stopwords``
      present (the Gopher "2 of 8 stop words" rule).

    Returns (id, g_n_words, g_mean_word_len, g_symbol_ratio,
    g_bullet_frac, g_ellipsis_frac, g_alpha_frac, g_stop_hits, g_keep)
    — the signal values (round-6 doubles, engine-portable) plus the
    AND-of-all-rules keep decision as int 0/1. The intra-document
    repetition half of Gopher's filters is ``repetition_signals``.

    Scale shape: one narrow projection — token and line arrays measured
    in-expression, no explode, no shuffle, no Python; scan-speed at
    100 TB."""
    df = spread_small_input(df)
    # r14 (guide §2.3/§4.2): two-level materialization — first the
    # three heavy arrays (tokens, non-blank lines, distinct lowered
    # tokens), then every count/signal as a column. Inlined, the rule
    # expressions and the AND-of-rules keep decision re-evaluated the
    # splits and per-line/token filters dozens of times per row (fresh
    # lambda ids defeat runtime CSE); materialized, each runs once and
    # the ratios/keep fold over cheap attribute references. Identical
    # signal values (x11's oracle hash pins them).
    arrs = df.select(
        F.col(id_col), F.col(text_col),
        tokens(text_col).alias("__g_toks"),
        F.filter(F.split(F.col(text_col), r"\n"),
                 lambda l: F.trim(l) != "").alias("__g_lines"),
        F.array_distinct(tokens(F.lower(F.col(text_col))))
        .alias("__g_ltoks"))
    toks, lines = F.col("__g_toks"), F.col("__g_lines")
    counts = arrs.select(
        F.col(id_col),
        F.size(toks).alias("__g_nw"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).alias("__g_len"),
        (F.regexp_count(F.col(text_col), F.lit("#"))
         + F.regexp_count(F.col(text_col), F.lit(r"\.\.\.")))
        .alias("__g_nsym"),
        F.size(lines).alias("__g_nl"),
        F.size(F.filter(lines, lambda l: F.trim(l).startswith("- ")
                        | F.trim(l).startswith("* "))).alias("__g_bul"),
        F.size(F.filter(lines, lambda l: F.trim(l).endswith("...")))
        .alias("__g_ell"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .alias("__g_alpha"),
        F.size(F.filter(F.col("__g_ltoks"),
                        lambda t: t.isin(*stopwords))).alias("__g_stop"))
    n_words = F.col("__g_nw")
    mean_len = F.when(n_words > 0,
                      F.col("__g_len").cast("double")
                      / n_words.cast("double")).otherwise(F.lit(0.0))
    symbol_ratio = F.when(n_words > 0,
                          F.col("__g_nsym").cast("double")
                          / n_words.cast("double")).otherwise(F.lit(0.0))
    frac = lambda num, den: F.when(
        den > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(0.0))
    alpha_frac = frac(F.col("__g_alpha"), n_words)
    stop_hits = F.col("__g_stop")
    bullet_frac = frac(F.col("__g_bul"), F.col("__g_nl"))
    ellipsis_frac = frac(F.col("__g_ell"), F.col("__g_nl"))
    keep = ((n_words >= min_words) & (n_words <= max_words)
            & (mean_len >= min_mean_word_len)
            & (mean_len <= max_mean_word_len)
            & (symbol_ratio <= max_symbol_ratio)
            & (bullet_frac <= max_bullet_frac)
            & (ellipsis_frac <= max_ellipsis_frac)
            & (alpha_frac >= min_alpha_frac)
            & (stop_hits >= min_stop_hits))
    return counts.select(
        F.col(id_col),
        n_words.cast("long").alias("g_n_words"),
        F.round(mean_len, 6).alias("g_mean_word_len"),
        F.round(symbol_ratio, 6).alias("g_symbol_ratio"),
        F.round(bullet_frac, 6).alias("g_bullet_frac"),
        F.round(ellipsis_frac, 6).alias("g_ellipsis_frac"),
        F.round(alpha_frac, 6).alias("g_alpha_frac"),
        stop_hits.cast("long").alias("g_stop_hits"),
        keep.cast("int").alias("g_keep"))


def lexicon_tag(df: DataFrame, text_col: str = "text",
                lexicons: dict[str, list[str]] | None = None, *,
                block_categories: tuple[str, ...] = (),
                min_hits: int = 1, prefix: str = "lex_") -> DataFrame:
    """Lexicon/blocklist category tagging — the RefinedWeb / C4 curation
    step that gates documents on curated word lists (NSFW blocklists,
    topic lexicons, domain markers). For each category: the token hit
    count (exact lowercase token match, multiplicity counted); plus
    ``<prefix>top`` — the dominant category (most hits, ties broken by
    category name, NULL when nothing hits) — and ``<prefix>blocked``
    (any block-category count >= ``min_hits``). Flags, not drops.

    Scale shape: lexicons are plan literals (an entirely narrow
    projection — no join, no shuffle, no Python); a lexicon too big
    for a literal array (>10k terms) should instead broadcast-join an
    exploded token frame. Tokenizes ONCE into a temp column shared by
    every category filter."""
    if not lexicons:
        raise ValueError("lexicons must be a non-empty dict")
    unknown = set(block_categories) - set(lexicons)
    if unknown:
        raise ValueError(f"block_categories not in lexicons: {unknown}")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1 (0 would block every "
                         "document, including zero-hit ones)")
    phrases = {w for ws in lexicons.values() for w in ws
               if w.split() != [w]}
    if phrases:
        raise ValueError(
            f"lexicon entries must be single non-empty tokens "
            f"(multi-word/empty entries can never match): "
            f"{sorted(phrases)[:5]} — match phrases with "
            f"word_shingles / contamination_report instead")
    cats = sorted(lexicons)
    out = df.withColumn("__lxt", tokens(F.lower(F.col(text_col))))
    for cat in cats:
        words = ", ".join(
            "'" + w.lower().replace("'", "''") + "'"
            for w in sorted(set(lexicons[cat])))
        out = out.withColumn(
            prefix + cat,
            F.expr(f"CAST(size(filter(__lxt, x -> "
                   f"array_contains(array({words}), x))) AS BIGINT)"))
    ranked = F.array_sort(F.array(*[
        F.struct((-F.col(prefix + c)).alias("h"), F.lit(c).alias("c"))
        for c in cats]))[0]
    out = out.withColumn(prefix + "top",
                         F.when(-ranked["h"] > 0, ranked["c"]))
    blocked = F.lit(False)
    for c in block_categories:
        blocked = blocked | (F.col(prefix + c) >= F.lit(min_hits))
    return out.withColumn(prefix + "blocked", blocked).drop("__lxt")


def char_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy over characters, H = -Σ p_c log2
    p_c — the classic cheap quality signal: natural prose sits in a
    narrow band (~4-4.5 bits/char for English), repetitive boilerplate
    falls far below it, and random/encoded noise pushes toward the
    alphabet's log2 ceiling. Gate BOTH tails.

    Returns ``df`` + ``n_distinct_chars`` + ``char_entropy`` (round-6
    of each term, exact integer accumulation — the _msum discipline —
    so the value is partition-order- and engine-stable; NULL for empty
    text, 0.0 for single-character-alphabet docs). Characters are
    Unicode code points (Java 8+ zero-width regex splits never land
    inside a surrogate pair, so an astral-plane emoji is ONE character
    — the same unit DuckDB's text[i] counts, which is what makes the
    oracle parity hold beyond the BMP).

    Scale shape: one (doc, char) explode (≤ |text| rows, tiny keys),
    two keyed aggregations and one doc-grain join — linear, no driver
    round trip, alphabet size bounds the per-doc group count."""
    ch = (spread_small_input(df)
          .select(F.col(id_col),
                  F.explode(F.split(F.col(text_col), "")).alias("__ch"))
          # split("", "") yields [""] — drop it so empty text gets NULL
          # entropy (no rows), matching the oracle's range(1, 0+1)
          .filter(F.col("__ch") != ""))
    cnt = ch.groupBy(id_col, "__ch").agg(F.count("*").alias("__c"))
    tot = cnt.groupBy(id_col).agg(
        F.sum("__c").alias("__n"),
        F.count("*").alias("n_distinct_chars"))
    term = F.round((F.col("__c") / F.col("__n"))
                   * F.log2(F.col("__c") / F.col("__n")), 6)
    ent = (cnt.join(tot, id_col)
           .groupBy(id_col)
           .agg(F.max("n_distinct_chars").alias("n_distinct_chars"),
                ((F.lit(0).cast("long")
                  - F.sum(F.round(term * 1000000).cast("long")))
                 .cast("double") / F.lit(1000000.0))
                .alias("char_entropy")))
    return df.join(ent, id_col, "left")
