"""Driver contract for the spark-graft builder (PySpark target).

Registry of every implemented operator from SURVEY.md §2, each as a
(spark, sf_dir) -> DataFrame callable paired (where ANSI-SQL-expressible)
with DuckDB oracle SQL over the same parquet views.

Float-determinism discipline (SURVEY §7.3): every SUM over doubles goes
through a DECIMAL(20,4) cast on BOTH sides (exact, order-insensitive);
per-row double arithmetic is IEEE-identical across engines; ROUND only
ever wraps already-deterministic values. Every computed column is aliased
identically in Spark and SQL so the driver's sorted-column value hash
lines up.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from functools import partial, reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_data_pipeline_spark.schemas import (
    SCHEMAS, load_table, register_views,
)
from serverless_data_pipeline_spark.operators import stages
from serverless_data_pipeline_spark.operators.bpe import (
    bpe_decode_ids, bpe_encode_ids, tokenizer_fertility,
)
from serverless_data_pipeline_spark.operators.bpe_artifact import (
    BPE_RAW_BASE_CHARS, BYTE_LEVEL_COMMITTED_MERGES, COMMITTED_MERGES,
    RAW_COMMITTED_MERGES, build_byte_level_vocab, build_vocab,
)
from serverless_data_pipeline_spark.operators.corpus import (
    block_loss_mask, block_positions, bloom_decontaminate, chunk_documents,
    contamination_report, corpus_datasheet, corpus_mix, decontaminate,
    global_shuffle, leakage_safe_split, pack_bins, pack_sequences,
    pack_token_blocks, passage_dedup, repeat_by_epochs, reshuffle_blocks,
    resume_token_blocks, segment_dedup, snapshot_diff, temperature_mix,
    token_budget_mix, train_test_split, vocabulary,
)
from serverless_data_pipeline_spark.operators.graph import pagerank
from serverless_data_pipeline_spark.operators.incremental import (
    commit_batch, incremental_dedup,
)
from serverless_data_pipeline_spark.operators.relational import (
    asof_join, dedupe_latest, range_join, top_k, top_k_per_group,
)
from serverless_data_pipeline_spark.functions.text import (
    fingerprint, quality_score_expr, shingles_from_tokens, tokens,
)
from serverless_data_pipeline_spark.operators.dedup import (
    corpus_jaccard, dedupe_by_components, duplicate_ngram_fraction,
    embedding_neardup_pairs, minhash_lsh_pairs, neardup_components,
    ngram_jaccard_pairs, semantic_dedup, simhash_pairs,
)
from serverless_data_pipeline_spark.operators.similarity import (
    achlioptas_matrix, add_sign_lsh_buckets, ann_topk, ann_topk_indexed,
    ann_topk_join, assign_ivf_cells, brute_force_topk_join,
    build_ivfpq_index, cluster_balanced_sample, hard_negatives, ivf_topk,
    ivf_topk_indexed, ivfpq_topk, pq_topk, random_projection,
    train_ivf_centroids, train_pq_codebooks,
)
from serverless_data_pipeline_spark.operators.similarity_artifact import (
    IVF_COMMITTED_CENTROIDS, PQ_COMMITTED_CODEBOOKS, PQ_ORACLE_QUERY,
)
from serverless_data_pipeline_spark.operators.sketches import (
    cms_build, cms_estimate, hll_build, hll_estimate, hll_merge,
)
from serverless_data_pipeline_spark.operators.text import (
    bm25_topk, c4_clean, char_entropy, classifier_quality_score,
    default_quality_weights, dsir_select, gopher_rules, language_id,
    lexicon_tag, lm_score, quality_features, redact_pii, repetition_signals,
    token_stats, top_tfidf_terms,
)
from serverless_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload, extract_features, extract_image_features,
    extract_video_features, frame_sample, media_metadata_stats,
    multimodal_join, synthesize_bmp_payload, synthesize_wav_payload,
    synthesize_y4m_payload,
)
from serverless_data_pipeline_spark.operators.urls import (
    canonicalize_url_sql, host_quota_sample, host_rank, url_host_sql,
)
from serverless_data_pipeline_spark.operators.util import (
    build_concurrently, spread_checkpoint, spread_small_input,
)
from serverless_data_pipeline_spark.streaming.windows import (
    session_agg, sliding_agg, stream_stream_join, tumbling_agg,
)


def _prep(spark: SparkSession) -> SparkSession:
    """Driver-owned sessions may lack engine conf; set the runtime-settable
    bits every query depends on: UTC (== DuckDB wall clock), the
    nanos-as-long escape hatch (engaged only when load_table probes a real
    TIMESTAMP(NANOS) fixture), AQE + right-sized shuffle partitions (a bare
    session defaults to 200 — needless task overhead at oracle scale)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 64:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    return spark


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(_prep(spark), sf_dir, name)


def _dsum(col, alias: str):
    """Order-insensitive exact sum of a double column (decimal transit)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(20,4)")).cast("double").alias(alias)


_DSUM_SQL = "CAST(SUM(CAST({c} AS DECIMAL(20,4))) AS DOUBLE)"


def _msum(col, alias: str):
    """Order-insensitive exact sum for FIXED-POINT money/quantity columns
    (<= 4 decimal digits per value): sum round(x*10^4) as long, divide
    once. Exact integer arithmetic like decimal transit, but the
    accumulator is a codegen'd long — ~2-4x faster than Spark's
    wide-decimal sum (measured at sf0.1). Use _dsum for full-precision
    doubles, where the 4-digit quantization of round() vs cast-to-decimal
    could disagree at representation edges."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(F.round(c * 10000).cast("long")) / F.lit(10000.0)).alias(alias)


_MSUM_SQL = ("(CAST(SUM(CAST(round(({c}) * 10000) AS BIGINT)) AS DOUBLE)"
             " / 10000.0)")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue-by-returnflag aggregation over lineitem (G1 path:
    scan → filter → groupBy → agg → orderBy) at sf0.001."""
    return _q_g1_groupby_agg(spark, "/root/testdata/sf0.001")


# ============================================================= arm tables
#
# A tagged-union row is an ordered {arm_name: builder} table. A builder
# takes the row call's `_Shared` intermediates and returns its arm exactly
# as the row projects it; the row unions the arms in table order, and a
# bench subquery (`bench_subqueries`) builds one arm alone — so per-arm
# attribution times the plan the oracle checks.


class _Shared:
    """The intermediates one row call shares between its arms, from a
    {name: maker(shared)} table. Each is built on first use and then
    reused: a row builds it once, a single arm builds only what it
    reads. Per-name locks keep that true when arms build concurrently."""

    def __init__(self, spark, sf, makers):
        self.spark, self.sf, self._makers = spark, sf, makers
        self._locks = {name: threading.Lock() for name in makers}

    def __getattr__(self, name):
        if name.startswith("_") or name not in self._makers:
            raise AttributeError(name)
        with self._locks[name]:
            if name not in self.__dict__:
                self.__dict__[name] = self._makers[name](self)
        return self.__dict__[name]

    def t(self, table: str) -> DataFrame:
        return _t(self.spark, self.sf, table)


def _build(arms, s: _Shared, concurrent: bool = False) -> list[DataFrame]:
    """Every arm of a table, in table order. ``concurrent`` builds them in
    driver threads (`build_concurrently`) — for rows whose arms do
    independent EAGER work (checkpoints, CC rounds, k-means fits, writes)
    while being built; the frames are the same either way."""
    if concurrent:
        return build_concurrently(*(partial(b, s) for b in arms.values()))
    return [b(s) for b in arms.values()]


def _union(arms, s: _Shared, concurrent: bool = False) -> DataFrame:
    return reduce(DataFrame.unionAll, _build(arms, s, concurrent))


def _null(dtype: str):
    return F.lit(None).cast(dtype)


def _slots(df, tag_col, tag, layout, **cols) -> DataFrame:
    """``df`` projected into a union row's layout: the tag column, then
    the (name, type) slots of ``layout``. A slot given in ``cols`` (a
    Column or a column name) is taken as is; one left out is a NULL of
    its type."""
    unknown = set(cols) - {name for name, _ in layout}
    if unknown:
        raise ValueError(f"no such slot: {sorted(unknown)}")

    def slot(name, dtype):
        c = cols.get(name)
        if isinstance(c, str):
            return F.col(c) if c == name else F.col(c).alias(name)
        return (_null(dtype) if c is None else c).alias(name)
    tag = F.lit(tag) if isinstance(tag, str) else tag
    return df.select(tag.alias(tag_col), *(slot(n, t) for n, t in layout))


# =============================================================== scans (S)

def _q_s12_json_parquet_sql(spark, sf):
    """S1 + S2 + the Athena/Glue catalog analogue (py:581-629,
    md:161-163) in one tagged union. The `json` half exercises JSON
    ingest semantics: serialize rows to JSON strings, parse back with an
    explicit schema (permissive path), aggregate. The `sql` half
    registers every fixture table as a view (the catalog surface) and
    queries the registered-schema parquet scans through spark.sql ANSI
    SQL."""
    js = _t(spark, sf, "documents").select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("js"))
    parsed = js.select(F.from_json(
        "js", "doc_id long, lang string, n_chars long").alias("r")).select("r.*")
    json_half = (parsed.groupBy("lang")
                 .agg(F.count("*").alias("n_rows"),
                      F.sum("n_chars").cast("double").alias("total"))
                 .select(F.lit("json").alias("kind"),
                         F.col("lang").alias("grp"), "n_rows", "total"))
    register_views(spark, sf)
    sql_half = spark.sql("""
        SELECT 'sql' AS kind, n_name AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
                   AS total
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")
    return json_half.unionAll(sql_half)


# ========================================================= ETL stages (T)

def _q_t_etl_suite(spark, sf):
    """T1 + T2 + T3 + T6 — the whole narrow ETL stage chain on the event
    grain, exactly as run_pipeline composes it (the r4 verdict's registry
    consolidation: one driver row per family, every operator still
    exercised and oracle-checked):

    - T1 ingest metadata stamping (py:226-240, md:172-180);
    - T2 schema validation split (py:243-255, py:404-408) — both halves
      re-tagged as an `is_valid` flag so valid ∪ invalid provably
      partitions the batch;
    - T3 batch transform (clean trim/lower, convert year/month/day/hour
      partition derivation py:197) + T6 realtime event_hour (py:287-298;
      processed_ts dropped — wall-clock, not oracle-checkable);
    - T4 chunked parallel transform (r7, verdict #6 — the last
      convertible pytest-only family): the SAME T3+T6 transform run
      THROUGH chunked_transform's fixed fan-out (sfn.Parallel
      py:373-390, chunk_id tagged mid-plan then dropped — its value
      reflects partition layout, deliberately not part of the
      contract); the `t4` rows must hash-match the plain transform of
      the same valid half, proving the chunk fan-out is semantically
      transparent."""
    ing = stages.ingest(_t(spark, sf, "events"), source="s3",
                        data_type="json", priority="normal", batch_id="b1")
    res = stages.validate(
        ing,
        {"event_id": T.LongType(), "ts": T.TimestampType(),
         "value": T.DoubleType()},
        checks=[F.col("value") >= 0.05])

    # The flag is carried by transforming each validation half and
    # tagging it with a literal — NOT by joining a flag frame back on
    # event_id: an equi-join would silently DROP any invalid row whose
    # event_id is NULL (null keys never match) and fan out under
    # duplicate ids, diverging from the oracle's null-safe
    # COALESCE(..., FALSE) the moment the fixture grows such rows. The
    # T3/T6 transforms are narrow and deterministic, so
    # transform(valid) ∪ transform(invalid) ≡ transform(valid ∪ invalid)
    # — and validate()'s split is still what partitions the batch.
    def _sel(out, flag, kind):
        return out.select(
            F.lit(kind).alias("kind"),
            "event_id", "source", "data_type", "priority", "batch_id",
            F.col("event_type").alias("clean_type"),
            "year", "month", "day", "hour", "event_hour", "value",
            F.lit(flag).alias("is_valid"))

    def _fn(df):
        return stages.realtime_transform(stages.transform(df, ts_col="ts"))

    t4 = _sel(stages.chunked_transform(res.valid, _fn), True, "t4")
    return (_sel(_fn(res.valid), True, "etl")
            .unionAll(_sel(_fn(res.invalid), False, "etl"))
            .unionAll(t4))


def _q_t5_quality_score(spark, sf):
    """T5 — per-batch scalar quality score (py:273-284, py:411-418),
    plus the r7 `profile` arm: `profile_columns`, the Deequ/TFDV-style
    single-pass column profile a production pipeline runs on every
    landed batch BEFORE the gate (one aggregation job — counts, null
    fraction, exact distincts, numeric min/max/mean, string min/max;
    date/timestamp columns profile counts+distinct only so no
    engine-specific string rendering transits the compare). Columns
    harmonized to (kind, col_name, n_rows, n_null, null_frac,
    n_distinct, vmin, vmax, vavg, smin, smax, score); the score arm
    carries NULL stats, profile rows carry NULL score.

    The profile arm runs EXACT distincts (oracle-comparable); the
    100 TB sketch mode (`approx_distinct=True`, HLL++) cannot be
    value-matched against DuckDB's different HLL implementation, so
    it is pinned by the r8 sketch-vs-exact tolerance law on the real
    sf0.1 fixtures instead (tests/test_stages.py::
    test_sketch_vs_exact_parity_on_real_fixtures — every non-sketch
    stat identical, estimates within 3x rsd), alongside the
    quantile_buckets approx-mode reassignment band.

    r8 adds the dataset-VERSION QA family (X17) as three arms vs a
    derived snapshot B: `drift` = profile_drift per column (schema
    status, null-fraction / distinct-rate / exact-mean deltas),
    `mix` = mix_shift_summary per categorical column (PSI / JS / TVD
    scalars, lang + source), `mixcat` = the per-language mix_shift
    detail (fractions, per-category PSI and JS terms) — the lang
    summary and detail share ONE checkpointed per-category frame.
    Slot mapping documented at the arm construction below."""
    return _union(_T5_ARMS, _Shared(spark, sf, _T5_SHARED))


_T5_LAYOUT = (("col_name", "string"), ("n_rows", "long"), ("n_null", "long"),
              ("null_frac", "double"), ("n_distinct", "long"),
              ("vmin", "double"), ("vmax", "double"), ("vavg", "double"),
              ("smin", "string"), ("smax", "string"), ("score", "double"))


def _t5_row(kind, df, **cols):
    return _slots(df, "kind", kind, _T5_LAYOUT, **cols)


def _t5_score(s):
    score = stages.quality_score(s.t("documents"),
                                 rules=[F.col("n_chars") >= 200])
    return _t5_row("score", s.spark.createDataFrame([(round(score, 6),)],
                                                    "score double"),
                   score="score")


def _t5_profile(s):
    return _t5_row("profile", stages.profile_columns(
                       s.t("events"),
                       ["event_id", "user_id", "event_type", "value", "ts"]),
                   col_name="column",
                   **{c: c for c in ("n_rows", "n_null", "null_frac",
                                     "n_distinct", "vmin", "vmax", "vavg",
                                     "smin", "smax")})


def _t5_anomaly(s):
    # anomaly arm (r7): flag_outliers — per-event-type z>3 outlier
    # monitoring with exact decimal-accumulated stats; rows carry
    # (n_rows, n_null=flagged count, null_frac=flagged rate,
    # n_distinct=non-null count) per event_type
    an = (stages.flag_outliers(s.t("events"), "event_type", "value")
          .groupBy("event_type")
          .agg(F.count("*").alias("__n"),
               F.sum(F.col("is_outlier").cast("long")).alias("__o"),
               F.max("n_g").alias("__g")))
    return _t5_row("anomaly", an, col_name="event_type",
                   n_rows=F.col("__n").cast("long"),
                   n_null=F.col("__o").cast("long"),
                   null_frac=F.round(F.col("__o") / F.col("__n"), 6),
                   n_distinct=F.col("__g").cast("long"))


# drift/mix/mixcat arms (r8): dataset-VERSION QA — the report a
# curator reads before promoting corpus v(N+1). Version B is derived
# from documents the same way the x8 diff arm derives its snapshot
# (%11 removed, %7 edited — here n_chars+10 — ids <20 re-added at
# +1000000 with lang='xx', a NEW category exercising the PSI
# eps-smoothing path):
#   drift  -> profile_drift per column: (n_rows=rows_a,
#             n_null=rows_b, null_frac=null_frac_delta,
#             n_distinct=distinct delta, vmin/vmax=distinct rates,
#             vavg=vavg_delta, smin=status,
#             score=distinct_rate_delta)
#   mix    -> mix_shift_summary per categorical column (lang,
#             source): (n_rows=n_cat_a, n_null=n_cat_b,
#             n_distinct=n_added, null_frac=tvd, vmin=PSI,
#             vmax=JS)
#   mixcat -> mix_shift per-lang detail: (col_name='lang:'||cat,
#             n_rows=n_a, n_null=n_b, null_frac=frac_delta,
#             vmin/vmax=fracs, vavg=psi_term, score=js_term)
def _t5_drift(s):
    return _t5_row("drift", stages.profile_drift(*s.snaps),
                   col_name="column", n_rows="n_rows_a", n_null="n_rows_b",
                   null_frac="null_frac_delta",
                   n_distinct=(F.col("n_distinct_b") - F.col("n_distinct_a"))
                   .cast("long"),
                   vmin="distinct_rate_a", vmax="distinct_rate_b",
                   vavg="vavg_delta", smin="status",
                   score="distinct_rate_delta")


def _t5_mix(s):
    mix = None
    for c, summ in (("lang", stages.mix_shift_summarize(s.per_lang)),
                    ("source",
                     stages.mix_shift_summary(*s.snaps, "source"))):
        row = _t5_row("mix", summ, col_name=F.lit(c),
                      n_rows=F.col("n_cat_a").cast("long"),
                      n_null=F.col("n_cat_b").cast("long"),
                      null_frac="tvd",
                      n_distinct=F.col("n_added").cast("long"),
                      vmin="psi", vmax="js")
        mix = row if mix is None else mix.unionAll(row)
    return mix


def _t5_mixcat(s):
    return _t5_row("mixcat", s.per_lang,
                   col_name=F.concat(F.lit("lang:"), F.col("category")),
                   n_rows=F.col("n_a").cast("long"),
                   n_null=F.col("n_b").cast("long"),
                   null_frac="frac_delta", vmin="frac_a", vmax="frac_b",
                   vavg="psi_term", score="js_term")


def _t5_snapshots(s):
    """Corpus versions A and B for the t5 drift arms. B derives from
    documents the way the x8 diff arm derives its snapshot: %11
    removed, %7 edited (n_chars+10), ids <20 re-added at +1000000 under
    the NEW language 'xx' (exercises PSI eps-smoothing). Both sides
    lazily checkpointed — every drift/mix arm reads them without
    re-deriving from the scan."""
    docs = s.t("documents")
    asnap = (docs.select("doc_id", "n_chars", "lang", "source")
             .localCheckpoint(eager=False))
    bsnap = ((docs.filter(F.col("doc_id") % 11 != 0)
              .select("doc_id",
                      F.when(F.col("doc_id") % 7 == 0,
                             F.col("n_chars") + 10)
                      .otherwise(F.col("n_chars")).alias("n_chars"),
                      "lang", "source")
              .unionAll(docs.filter(F.col("doc_id") < 20)
                        .select((F.col("doc_id") + 1000000)
                                .alias("doc_id"), "n_chars",
                                F.lit("xx").alias("lang"), "source")))
             .localCheckpoint(eager=False))
    return asnap, bsnap


_T5_SHARED = {
    "snaps": _t5_snapshots,
    # the lang per-category frame feeds BOTH the mixcat detail and the
    # lang summary (mix_shift_summarize) — one checkpointed computation,
    # same single-pass discipline as x12's dupboth / x2's curl
    "per_lang": lambda s: (stages.mix_shift(*s.snaps, "lang")
                           .localCheckpoint(eager=False)),
}
_T5_ARMS = {"score": _t5_score, "profile": _t5_profile,
            "anomaly": _t5_anomaly, "drift": _t5_drift, "mix": _t5_mix,
            "mixcat": _t5_mixcat}


def _q_t7_filter_project(spark, sf):
    """T7 + T8 — SQL WHERE (Athena surface py:619-629) feeding a
    projection of computed columns; the filter must push to the scan and
    unused columns (l_tax, l_shipdate...) must be pruned from ReadSchema
    (asserted in tests/test_plans.py)."""
    return (_t(spark, sf, "lineitem")
            .filter((F.col("l_quantity") >= 48) & (F.col("l_returnflag") == "R"))
            .select(
                "l_orderkey", "l_linenumber", "l_quantity",
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("net_price"),
                F.concat_ws("/", "l_returnflag", "l_linestatus")
                 .alias("flag_status")))


# ============================================================== joins (J)

def _q_j2_outer_suite(spark, sf):
    """J1 + J2 — inner, left, right AND full outer joins in one tagged
    union (registry consolidation, r4 verdict; the standalone
    j1_inner_join row folded in r13 — verdict #4 — to restore the
    two-free-slot registry policy). The inner/left/right halves join
    the same orders ⋈ customer key and aggregate identically, so the
    join TYPES are what the hash distinguishes: inner drops orderless
    customers, left/right keep them (n_a = 0, NULL amount) from either
    syntactic side — left ∖ inner is exactly the null-extension set, a
    sharper cross-check than the old standalone inner row. The
    full-outer half joins per-nation customer/supplier counts with
    rows unique to each side. Columns harmonized to (side, key, n_a,
    n_b, amount): outer rows carry (nationkey, n_cust, n_supp, NULL),
    inner/left/right rows carry (c_custkey, n_orders, NULL,
    total_spent)."""
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    inner = (o.join(c, o.o_custkey == c.c_custkey, "inner")
              .groupBy("c_custkey")
              .agg(F.count("*").alias("n_a"),
                   _dsum("o_totalprice", "amount"))
              .select(F.lit("inner").alias("side"),
                      F.col("c_custkey").cast("long").alias("key"),
                      "n_a", F.lit(None).cast("long").alias("n_b"),
                      "amount"))
    left = (c.join(o, c.c_custkey == o.o_custkey, "left")
             .groupBy("c_custkey")
             .agg(F.count("o_orderkey").alias("n_a"),
                  _dsum("o_totalprice", "amount"))
             .select(F.lit("left").alias("side"),
                     F.col("c_custkey").cast("long").alias("key"),
                     "n_a", F.lit(None).cast("long").alias("n_b"), "amount"))
    right = (o.join(c, o.o_custkey == c.c_custkey, "right")
              .groupBy("c_custkey")
              .agg(F.count("o_orderkey").alias("n_a"),
                   _dsum("o_totalprice", "amount"))
              .select(F.lit("right").alias("side"),
                      F.col("c_custkey").cast("long").alias("key"),
                      "n_a", F.lit(None).cast("long").alias("n_b"), "amount"))
    cn = (_t(spark, sf, "customer").filter(F.col("c_nationkey") >= 5)
          .groupBy("c_nationkey").agg(F.count("*").alias("n_a")))
    sn = (_t(spark, sf, "supplier").filter(F.col("s_nationkey") < 12)
          .groupBy("s_nationkey").agg(F.count("*").alias("n_b")))
    full = (cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full_outer")
            .select(F.lit("full").alias("side"),
                    F.coalesce("c_nationkey", "s_nationkey").cast("long")
                     .alias("key"),
                    "n_a", "n_b", F.lit(None).cast("double").alias("amount")))
    return inner.unionAll(left).unionAll(right).unionAll(full)


def _q_j3_semi_anti_join(spark, sf):
    """J3 — left semi (customers having >= 1 order) and left anti
    (customers with none) as one tagged union: together they partition
    the customer table, which the oracle verifies exactly.

    `bsemi` (r7 s6): the same semi join routed through
    `bloom_semi_filter` — the semi-join REDUCTION path for when the
    build side outgrows a raw broadcast: customers are pre-filtered
    against a fixed-size Bloom bitmap of order keys BEFORE the join.
    One-sided error means prefilter + join is value-identical to the
    plain semi join, which is exactly what the oracle asserts (a
    dropped true match — a false negative — would hash-mismatch)."""
    from serverless_data_pipeline_spark.operators.relational import (
        bloom_semi_filter,
    )
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    semi = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select(F.lit("semi").alias("kind"), "c_custkey", "c_mktsegment"))
    anti = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select(F.lit("anti").alias("kind"), "c_custkey", "c_mktsegment"))
    pre = bloom_semi_filter(c, o, "c_custkey", "o_custkey",
                            m_bits=1 << 20, k_hashes=3)
    bsemi = (pre.join(o, pre.c_custkey == o.o_custkey, "left_semi")
             .select(F.lit("bsemi").alias("kind"), "c_custkey",
                     "c_mktsegment"))
    return semi.unionAll(anti).unionAll(bsemi)


def _q_j4_broadcast_join(spark, sf):
    """J4 — broadcast dim join (star-schema enrichment md:317)."""
    li, p = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy("p_brand")
              .agg(F.count("*").alias("n_items"),
                   _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "gross_revenue")))


def _q_j56_cross_range(spark, sf):
    """J5 + J6 — cross join (BroadcastNestedLoopJoin), non-equi theta
    join (same-region nation pairs), and the range/interval join in BOTH
    physical strategies (broadcast nested-loop for small interval sets;
    the scale path: explode intervals into coarse buckets, equi-join on
    bucket, re-apply the exact predicate — a shuffled hash join for
    large×large), one tagged union (registry consolidation, r4 verdict).
    Columns harmonized to (kind, name_a, name_b, n_events, sum_value):
    join-pair rows carry names, range rows carry the band + aggregate."""
    from serverless_data_pipeline_spark.operators.relational import (
        bucketed_range_join,
    )
    nulls = [F.lit(None).cast("long").alias("n_events"),
             F.lit(None).cast("double").alias("sum_value")]
    r1 = _t(spark, sf, "region").select(F.col("r_name").alias("name_a"))
    r2 = _t(spark, sf, "region").select(F.col("r_name").alias("name_b"))
    cross = r1.crossJoin(r2).select(
        F.lit("cross").alias("kind"), "name_a", "name_b", *nulls)
    n1 = _t(spark, sf, "nation").select(
        F.col("n_name").alias("name_a"), F.col("n_regionkey").alias("r1"))
    n2 = _t(spark, sf, "nation").select(
        F.col("n_name").alias("name_b"), F.col("n_regionkey").alias("r2"))
    theta = (n1.join(n2, (F.col("r1") == F.col("r2"))
                     & (F.col("name_a") < F.col("name_b")))
               .select(F.lit("theta").alias("kind"), "name_a", "name_b",
                       *nulls))
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1000.0)],
        "band string, lo double, hi double")
    ev = _t(spark, sf, "events")
    name_b_null = F.lit(None).cast("string").alias("name_b")
    bcast = (range_join(ev, bands,
                        (F.col("value") >= F.col("lo"))
                        & (F.col("value") < F.col("hi")))
             .groupBy("band")
             .agg(F.count("*").alias("n_events"), _dsum("value", "sum_value"))
             .select(F.lit("range_broadcast").alias("kind"),
                     F.col("band").alias("name_a"), name_b_null,
                     "n_events", "sum_value"))
    # bucketed_range_join is hi-inclusive; exact boundary values excluded
    # below for parity with the half-open oracle.
    bucketed = (bucketed_range_join(ev, bands, "value", "lo", "hi",
                                    F.lit(25.0))
                .filter(F.col("value") < F.col("hi"))
                .groupBy("band")
                .agg(F.count("*").alias("n_events"),
                     _dsum("value", "sum_value"))
                .select(F.lit("range_bucketed").alias("kind"),
                        F.col("band").alias("name_a"), name_b_null,
                        "n_events", "sum_value"))
    return cross.unionAll(theta).unionAll(bcast).unionAll(bucketed)


def _q_j7_asof_join(spark, sf):
    """J7 — as-of join: latest purchase value at-or-before each click,
    per user (DuckDB ASOF JOIN semantics)."""
    ev = _t(spark, sf, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", "ts", F.col("value").alias("purchase_value")))
    out = asof_join(clicks, purchases, on=["user_id"],
                    left_ts="ts", right_ts="ts",
                    right_value_cols=["purchase_value"])
    return out.select("event_id", "purchase_value")


def _q_q3_shipping_priority(spark, sf):
    """Flagship 3-table join (TPC-H Q3 shape): customer ⋈ orders ⋈
    lineitem, segment filter pushed to the customer scan, top-10 orders by
    revenue. The join order lets Catalyst broadcast the filtered customer
    side; AQE picks the physical strategy at scale."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
              .agg(_msum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "revenue"))
              .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
              .limit(10))


def _q_q5_local_supplier(spark, sf):
    """Flagship 6-table join (TPC-H Q5 shape): revenue per nation from
    lineitems where the customer and supplier share the nation, region-
    and date-filtered. The dimension chain region→nation broadcasts; the
    fact-side joins shuffle on their keys; AQE reorders/locally optimizes
    at scale. Exercises the full star-schema join path in one query."""
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = (_t(spark, sf, "orders")
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1998-01-01")))
    li = _t(spark, sf, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(s, (li.l_suppkey == s.s_suppkey)
                    & (c.c_nationkey == s.s_nationkey))
              .join(n, s.s_nationkey == n.n_nationkey)
              .join(r, n.n_regionkey == r.r_regionkey)
              .groupBy("n_name")
              .agg(_msum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "revenue"))
              .orderBy(F.col("revenue").desc()))


def _q_q10_returned_items(spark, sf):
    """TPC-H Q10 shape: revenue lost to returned items per customer over
    a quarter. Fact side filters (returnflag, date window) push to the
    scans; nation broadcasts; top-20 plans as TakeOrderedAndProject (O(k)
    per task, no global sort)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    o = (_t(spark, sf, "orders")
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1996-07-01")))
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(n, c.c_nationkey == n.n_nationkey)
              .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
              .agg(_msum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "revenue"))
              .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
              .limit(20))


def _q_q18_large_orders(spark, sf):
    """TPC-H Q18 shape (large-volume customers) through the spark.sql
    surface — the Athena/ANSI contract (py:619-629): a grouped-HAVING
    subquery feeding an IN predicate (plans as a semi join on the
    pre-aggregated key set), a 4-table join, and a grouped re-aggregation
    with top-n. Exercises subquery planning end-to-end where the
    DataFrame flagships exercise the builder API."""
    _prep(spark)
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql("""
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_date, o_totalprice,
               (CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT))
                     AS DOUBLE) / 10000.0) AS total_qty
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(round(l_quantity * 10000) AS BIGINT)) > 1500000)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100""")


# =============================================================== aggs (G)

def _q_g1_groupby_agg(spark, sf):
    """G1 — the flagship pricing-summary aggregation (TPC-H Q1 shape)."""
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.col("l_quantity") < 50)
              .groupBy("l_returnflag", "l_linestatus")
              .agg(_msum("l_quantity", "sum_qty"),
                   _msum("l_extendedprice", "sum_base_price"),
                   _msum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "sum_disc_price"),
                   F.count("*").alias("n_rows"),
                   F.round((F.sum(F.round(F.col("l_quantity") * 10000)
                                   .cast("long")) / F.lit(10000.0))
                           / F.count("*"), 6).alias("avg_qty")))


def _q_g2_distinct_count(spark, sf):
    """G2 — DISTINCT rows feeding a count-distinct aggregate: deduplicate
    the (returnflag, linestatus) pairs, then count distinct statuses per
    flag — both distinct flavours in one oracle-checked query."""
    pairs = (_t(spark, sf, "lineitem")
             .select("l_returnflag", "l_linestatus").distinct())
    return (pairs.groupBy("l_returnflag")
            .agg(F.countDistinct("l_linestatus").alias("n_status"),
                 F.count("*").alias("n_pairs")))


def _q_g3_grouping_multi(spark, sf):
    """G3 — rollup/cube/grouping-sets family via an explicit GROUPING
    SETS list equal to the full CUBE lattice of status × priority (which
    contains every ROLLUP set). One shuffle: the Expand operator
    replicates rows per set — no per-set rescans (asserted in
    tests/test_plans.py)."""
    o = _t(spark, sf, "orders")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                      AS total
           FROM {o}
           GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                   (o_orderstatus), (o_orderpriority), ())""",
        o=o)


def _q_g5_filtered_pivot(spark, sf):
    """G5 + G-pivot — filtered/conditional aggregation joined with the
    pivoted (CASE-pivot idiom as a native op) totals on the same grain.
    The pivot value list is explicit: `pivot()` without values runs an
    extra distinct-scan job to discover them — never acceptable at
    scale."""
    o = _t(spark, sf, "orders")
    filtered = (o.groupBy("o_orderpriority")
                .agg(F.count(F.when(F.col("o_orderstatus") == "F", 1))
                      .alias("n_finished"),
                     _dsum(F.when(F.col("o_totalprice") > 200000,
                                  F.col("o_totalprice")),
                           "high_value_total"),
                     F.sum(F.when(F.col("o_orderstatus") == "O", 1)
                            .otherwise(0)).alias("n_open")))
    pivoted = (o.groupBy("o_orderpriority")
               .pivot("o_orderstatus", ["O", "F", "P"])
               .agg(_dsum("o_totalprice", "total"))
               .select(F.col("o_orderpriority"),
                       F.col("O").alias("total_open"),
                       F.col("F").alias("total_finished"),
                       F.col("P").alias("total_pending")))
    return filtered.join(pivoted, "o_orderpriority")


def _q_g6_percentiles(spark, sf):
    """G6 — exact percentiles (continuous interpolation)."""
    li = _t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
                 F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75")))


# ============================================================ windows (W)

def _q_w_window_suite(spark, sf):
    """W — the full window-function family in ONE oracle-checked query
    over orders: ranking (row_number/rank/dense_rank/ntile), analytic
    (lag/lead), first/last over an explicit full-partition ROWS frame, a
    running decimal-transit sum, distribution (percent_rank/cume_dist),
    and a value-based RANGE frame. Three partition keys → three window
    exchanges, each shared by its frame variants (Spark groups same-spec
    window functions into one Window operator)."""
    w_rank = (Window.partitionBy("o_custkey")
              .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                     "o_orderkey")
    w_full = w_time.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)
    w_run = w_time.rowsBetween(Window.unboundedPreceding, 0)
    w_dist = (Window.partitionBy("o_orderstatus")
              .orderBy(F.col("o_totalprice"), F.col("o_orderkey")))
    w_range = (Window.partitionBy("o_orderpriority")
               .orderBy(F.col("o_totalprice"))
               .rangeBetween(Window.unboundedPreceding, 0))
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        F.row_number().over(w_rank).alias("rn"),
        F.rank().over(w_rank).alias("rk"),
        F.dense_rank().over(w_rank).alias("drk"),
        F.ntile(4).over(w_rank).alias("quartile"),
        F.lag("o_totalprice").over(w_time).alias("prev_price"),
        F.lead("o_totalprice").over(w_time).alias("next_price"),
        F.first("o_totalprice").over(w_full).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.sum(F.col("o_totalprice").cast("decimal(20,4)")).over(w_run)
         .cast("double").alias("running_total"),
        F.round(F.percent_rank().over(w_dist), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_dist), 6).alias("cume"),
        F.count("*").over(w_range).cast("long").alias("n_at_or_below"))


def _q_g8_array_agg(spark, sf):
    """G-extension — ordered array aggregation (Athena array_agg): the
    nation list per region, sorted then joined to a scalar so the value
    compare is engine-agnostic (Spark lists vs DuckDB numpy arrays hash
    differently in some comparators). collect_list + sort_array is
    deterministic regardless of shuffle arrival order."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (n.join(r, n.n_regionkey == r.r_regionkey)
             .groupBy("r_name")
             .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",")
                   .alias("nations"),
                  F.count("*").cast("long").alias("n_nations")))


# ===================================================== sorts/sets (SRT/SET)

def _q_topk_suite(spark, sf):
    """SRT + TKG — global top-k (TakeOrderedAndProject — O(k) heap per
    task, no global sort) and top-k per group (row_number window) in one
    tagged union (registry consolidation, r4 verdict)."""
    glob = (top_k(_t(spark, sf, "orders"),
                  [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10)
            .select(F.lit("global").alias("kind"),
                    F.lit(None).cast("string").alias("o_orderpriority"),
                    "o_orderkey", "o_totalprice",
                    F.lit(None).cast("int").alias("rnk")))
    grp = (top_k_per_group(
        _t(spark, sf, "orders"), ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3)
        .select(F.lit("group").alias("kind"), "o_orderpriority",
                "o_orderkey", "o_totalprice", "rnk"))
    return glob.unionAll(grp)


def _q_set_operations(spark, sf):
    """SET — all five set operators as one tagged union: UNION
    (distinct), INTERSECT, EXCEPT (distinct), INTERSECT ALL (bag: min
    multiplicity), EXCEPT ALL (bag subtraction floored at zero)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    s12 = (_t(spark, sf, "supplier").filter(F.col("s_nationkey") < 12)
           .select(F.col("s_nationkey").alias("nationkey")))
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nationkey")
    return (tag(c.union(s).distinct(), "union")
            .unionAll(tag(c.intersect(s), "intersect"))
            .unionAll(tag(c.subtract(s12), "except"))
            .unionAll(tag(c.intersectAll(s), "intersect_all"))
            .unionAll(tag(c.exceptAll(s12), "except_all")))


def _q_x1_dedup_latest(spark, sf):
    """X1 — keep-latest exact dedup (latest event per user)."""
    out = dedupe_latest(_t(spark, sf, "events"), ["user_id"],
                        [F.col("ts").desc(), F.col("event_id").desc()])
    return out.select("user_id", "event_id", "event_type", "value")


# ============================================================ scalars (F)
# Consolidated to 3 suite queries (was 8) so every §2 family fits inside
# the driver's 50-entry CORRECTNESS window; every scalar function the 8
# originals exercised is still present and oracle-checked.

def _q_f_math_string(spark, sf):
    """F-math + F-str — numeric scalars over lineitem columns and string
    scalars over the broadcast-joined part dimension in ONE query.

    `gross` stays unrounded: rounding a fresh double product at low scale
    hits engine-specific midpoint handling (Spark rounds the shortest
    decimal repr, DuckDB the scaled binary value); `round` is instead
    exercised on an exactly-representable midpoint (qty*1.5) where both
    engines agree."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select(
                "l_orderkey", "l_linenumber",
                (F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias("gross"),
                F.round(F.col("l_quantity") * 1.5, 1).alias("qty_x15"),
                F.abs(F.col("l_discount") - F.col("l_tax")).alias("abs_diff"),
                F.ceil("l_quantity").alias("qty_ceil"),
                F.floor("l_extendedprice").alias("price_floor"),
                F.pmod(F.col("l_orderkey"), F.lit(7)).alias("mod7"),
                F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
                F.upper("p_name").alias("upper_name"),
                F.substring("p_name", 1, 8).alias("prefix8"),
                F.length("p_name").alias("name_len"),
                F.replace(F.col("p_name"), F.lit(" "), F.lit("_"))
                 .alias("snake_name"),
                F.col("p_name").startswith("a").alias("starts_a")))


def _q_f_datetime_json(spark, sf):
    """F-dt + F-json + F-cond — date/time scalars on events.ts (partition
    derivation py:197), JSON scalars on the untyped events.props payload
    (py:345-349), and CASE/coalesce/nullif (choice states py:404-418)."""
    ev = _t(spark, sf, "events")
    # json_tuple is a generator — must be projected standalone, cast after.
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        F.from_json("props", "k long").getField("k").alias("k_struct"),
        F.json_tuple("props", "k").alias("k_raw"),
        F.when(F.col("value") > 500, "big")
         .when(F.col("value") > 100, "mid")
         .otherwise("small").alias("bucket"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("click")),
                   F.lit("non-click")).alias("type_x"),
    ).select("event_id", "y", "m", "d", "hour_start", "ym", "epoch_s",
             "k_path", "k_struct", F.col("k_raw").cast("long").alias("k_tuple"),
             "bucket", "type_x")


def _q_f_collections(spark, sf):
    """F-arr + F-map — array/higher-order scalars and map
    construction/access plus posexplode in one pass: embeddings ⋈
    documents on the shared id space, per-row array stats + map reads,
    exploded to one row per (vector, position, value). The oracle pins
    the map accessors' semantically-expected scalars (DuckDB's MAP
    accessor returns lists)."""
    from serverless_data_pipeline_spark.functions.vectors import l2_norm
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 50)
    d = _t(spark, sf, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"),
                     F.lit("source"), F.col("source"))
    joined = e.join(d, e.vec_id == d.doc_id).select(
        "vec_id", "embedding",
        F.size("embedding").alias("n_dims"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.round(l2_norm("embedding"), 6).alias("norm"),
        F.element_at(m, F.lit("lang")).alias("m_lang"),
        F.size(m).alias("n_entries"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.element_at(F.map_values(m), 2).alias("second_val"))
    return (joined.select(
        "vec_id", "n_dims", "first_val", "max_val", "norm",
        "m_lang", "n_entries", "keys_csv", "second_val",
        F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", "n_dims", "first_val", "max_val", "norm",
                "m_lang", "n_entries", "keys_csv", "second_val",
                (F.col("pos") + 1).alias("pos"),
                F.col("val").cast("double").alias("val")))


# ======================================================== streaming (ST)

def _q_st1_stream_exec(spark, sf):
    """ST1 — TRUE streaming execution, not the batch-mode plan: readStream
    file source over events.parquet → tumbling windowed aggregation →
    memory sink, drained with Trigger.availableNow (the Firehose delivery
    loop, py:187-213). Deterministic: availableNow consumes all input and
    complete mode emits the final aggregate, which the oracle checks
    against the identical batch SQL."""
    _prep(spark)
    agg = tumbling_agg(_events_readstream(spark, sf), keys=(),
                       width="1 hour", watermark=None)
    return _drain_stream(spark, agg, "st1")


def _events_readstream(spark, sf) -> DataFrame:
    """True `readStream` over the events fixture, unit-adaptive exactly
    like load_table: a nanos fixture reads long + div-1000, a micros one
    reads straight through the registered schema."""
    stream_dir, ev_unit = _stage_events_stream_dir(f"{sf}/events.parquet")
    if ev_unit == "ns":
        read_schema = T.StructType([
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in SCHEMAS["events"].fields])
        raw = (spark.readStream.schema(read_schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(stream_dir))
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir))


def _start_stream(spark, agg: DataFrame, tag: str,
                  output_mode: str = "complete"):
    """Start a streaming aggregate into a memory sink with
    Trigger.availableNow; returns (query, table_name) so independent
    streams can run CONCURRENTLY and be awaited together."""
    import uuid

    name = f"{tag}_mem_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    return q, name


def _drain_stream(spark, agg: DataFrame, tag: str,
                  output_mode: str = "complete") -> DataFrame:
    """Drain a streaming aggregate to a memory sink with
    Trigger.availableNow — deterministic: all input is consumed and
    complete mode emits the final aggregate state, so the result equals
    the identical batch plan and the oracle can value-check a query that
    really executed through the streaming engine."""
    q, name = _start_stream(spark, agg, tag, output_mode)
    q.awaitTermination(300)
    return spark.table(name)


def _stage_events_stream_dir(src: str) -> tuple[str, str | None]:
    """Stage the single-file events fixture into a directory for the
    file-stream source (which only accepts directory paths), and probe the
    `ts` physical unit so callers read nanos and micros fixtures alike.

    The staged copy is keyed by source (path, mtime, size) so a regenerated
    fixture re-stages instead of serving stale data forever.
    """
    import os
    import shutil
    import tempfile

    from serverless_data_pipeline_spark.schemas import _parquet_timestamp_unit

    unit = _parquet_timestamp_unit(src, "ts")
    if os.path.isdir(src):
        return src, unit
    st = os.stat(src)
    key = f"{src.strip('/').replace('/', '_')}_{int(st.st_mtime)}_{st.st_size}"
    _evict_stale_staging("sdp_stream_", key)
    stream_dir = os.path.join(tempfile.gettempdir(), "sdp_stream_" + key)
    os.makedirs(stream_dir, exist_ok=True)
    dst = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(dst):
        shutil.copy(src, dst)
    return stream_dir, unit


def _q_st3_window_agg(spark, sf):
    """ST3 — tumbling AND sliding (1 h / 30 min) window aggs, each
    EXECUTED THROUGH the streaming engine (readStream → availableNow →
    memory sink; two streaming queries, since one streaming query cannot
    union two stateful aggregations) and unioned as a tagged batch result
    the oracle value-checks."""
    _prep(spark)
    qt, tname = _start_stream(
        spark, tumbling_agg(_events_readstream(spark, sf), width="1 hour"),
        "st3t")
    qs_, sname = _start_stream(
        spark, sliding_agg(_events_readstream(spark, sf),
                           width="1 hour", slide="30 minutes"),
        "st3s")
    qt.awaitTermination(300)
    qs_.awaitTermination(300)
    tumb = spark.table(tname).select(
        F.lit("tumbling").alias("kind"), "window_start",
        "event_type", "n_events", "sum_value")
    slide = spark.table(sname).select(
        F.lit("sliding").alias("kind"), "window_start",
        "event_type", "n_events", "sum_value")
    return tumb.unionAll(slide)


def _q_st6_stateful(spark, sf):
    """ST6 — arbitrary per-key streaming state via applyInPandasWithState
    (running per-user totals), EXECUTED through the streaming engine and
    oracle-checked: one availableNow batch makes the final update-mode
    emission equal the per-user batch aggregate. `value` is quantized to
    round(value*10000) BEFORE the stateful op (integer-valued doubles add
    exactly, so the Python-side accumulation order cannot flip a bit —
    the _msum discipline applied to a stateful operator)."""
    from serverless_data_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )
    _prep(spark)
    ev = (_events_readstream(spark, sf)
          .withColumn("value", F.round(F.col("value") * 10000)))
    out = _drain_stream(spark, running_user_totals(ev), "st6",
                        output_mode="update")
    # Defensive: totals are monotone per user, so if the source ever
    # split into several micro-batches, keep each user's last emission.
    return (out.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 (F.max("sum_value") / F.lit(10000.0)).alias("sum_value")))


def _q_st8_stream_join(spark, sf):
    """ST8 — watermarked stream-stream inner join (click → purchase by
    the same user within 30 min), EXECUTED through the streaming engine:
    both sides are independent readStreams, the event-time range bound
    keeps join state finite, and a single availableNow batch emits every
    matched pair — value-identical to the batch theta join the oracle
    runs."""
    _prep(spark)
    left = _events_readstream(spark, sf).filter(
        F.col("event_type") == "click")
    right = _events_readstream(spark, sf).filter(
        F.col("event_type") == "purchase")
    joined = stream_stream_join(left, right, key="user_id", ts_col="ts",
                                watermark="1 hour", max_delay="30 minutes")
    out = _drain_stream(spark, joined, "st8", output_mode="append")
    return out.select(
        F.col("l_event_id"), F.col("r_event_id"),
        F.col("l_user_id").alias("user_id"),
        F.col("l_ts"), F.col("r_ts"),
        F.round(F.col("l_value") + F.col("r_value"), 6)
         .alias("funnel_value"))


def _evict_stale_staging(prefix: str, keep_basename: str) -> None:
    """Best-effort removal of sibling staging dirs left by PRIOR fixture
    generations: the staging key embeds (path, mtime, size), so every
    regenerated fixture would otherwise leave its predecessor's copy in
    tempdir forever (ADVICE r4). Matches dirs sharing the same
    path-derived prefix but a stale mtime/size suffix. The suffix match
    is exact (_<digits>_<digits>): a bare prefix glob would also catch
    staging dirs of a DIFFERENT fixture whose path string extends this
    one (sf1 vs sf1_old) and delete a live sibling cache. Age-gated 1 h
    (same as the sdp_upsert_ sweep): a just-written stale dir may still
    be read by a concurrent driver that started before the fixture was
    regenerated — deleting it mid-run fails that driver's in-flight
    streaming queries."""
    import glob
    import os
    import re
    import shutil
    import tempfile
    import time

    stem = "_".join(keep_basename.split("_")[:-2])  # drop mtime_size key
    stale = re.compile(re.escape(prefix + stem) + r"_\d+_\d+$")
    cutoff = time.time() - 3600
    for d in glob.glob(os.path.join(tempfile.gettempdir(), prefix + stem + "_*")):
        base = os.path.basename(d)
        if base != prefix + keep_basename and stale.fullmatch(base):
            try:
                if os.path.getmtime(d) < cutoff:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass


def _sweep_aged_tmp(prefix: str, max_age_s: float = 3600.0) -> None:
    """Age-gated cleanup of uuid-keyed tempdir working dirs from PRIOR
    calls. Prior dirs are garbage, but only EVENTUALLY: an unconditional
    sweep would race a concurrent driver (check_oracles + bench sharing
    /tmp) or a lazy DataFrame built earlier in this session that still
    reads its dir. Anything older than an hour is no live run's data."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    now = time.time()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if now - os.path.getmtime(d) > max_age_s:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass


def _q_s_sink_suite(spark, sf):
    """S3 + S10 — both persistent-sink paths checked END-TO-END in one
    tagged union (registry consolidation, r4 verdict):

    - `sink`: write events through write_partitioned_parquet (hive
      year/month/day/hour layout, the Firehose prefix contract py:197),
      read the files back, aggregate per partition. The oracle computes
      the same aggregate from the source table, so layout-induced loss/
      duplication/type drift in the sink path hash-mismatches. Staged
      per (fixture mtime, size) so a regenerated fixture re-writes;
      stale predecessors are evicted.
    - `upsert`: MERGE on a plain-parquet table — seed a target with the
      even-id half of events, upsert an updates set that overlaps it
      (ids divisible by 4, value doubled) and extends it (odd-id rows
      with user 0-9), read the swapped-in table back row-level. The
      oracle states the update-else-insert contract directly (updates ∪
      target-not-updated), so a lost update, duplicate key, or failed
      swap hash-mismatches. Fresh target dir per call — merge mutates
      it.

    Columns harmonized to (kind, a, b, c, d, n_rows, n_ids, val): sink
    rows carry (year, month, day, hour, n_rows, n_ids, sum_value);
    upsert rows carry (event_id, user_id, NULL..., value)."""
    import os
    import tempfile
    import uuid

    _prep(spark)
    from serverless_data_pipeline_spark.sources.writers import (
        merge_upsert, write_partitioned_parquet,
    )

    src = f"{sf}/events.parquet"
    st = os.stat(src)
    key = (src.strip("/").replace("/", "_")
           + f"_{int(st.st_mtime)}_{st.st_size}")
    _evict_stale_staging("sdp_sink_", key)
    out_dir = os.path.join(tempfile.gettempdir(), "sdp_sink_" + key)
    marker = os.path.join(out_dir, "_written")
    if not os.path.exists(marker):
        write_partitioned_parquet(_t(spark, sf, "events"), out_dir,
                                  mode="overwrite")
        open(marker, "w").close()
    back = spark.read.parquet(out_dir)
    sink = (back.groupBy(
        F.col("year").cast("long").alias("a"),
        F.col("month").cast("long").alias("b"),
        F.col("day").cast("long").alias("c"),
        F.col("hour").cast("long").alias("d"))
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("event_id").alias("n_ids"),
             _msum("value", "val"))
        .select(F.lit("sink").alias("kind"), "a", "b", "c", "d",
                "n_rows", "n_ids", "val"))

    ev = _t(spark, sf, "events").select("event_id", "user_id", "value")
    _sweep_aged_tmp("sdp_upsert_")
    target_dir = tempfile.gettempdir() + f"/sdp_upsert_{uuid.uuid4().hex[:8]}"
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(target_dir)
    updates = (ev.filter((F.col("event_id") % 4 == 0)
                         | ((F.col("event_id") % 2 == 1)
                            & (F.col("user_id") < 10)))
               .withColumn("value", F.round(F.col("value") * 2, 6)))
    merge_upsert(spark, target_dir, updates, keys=["event_id"])
    nulls = [F.lit(None).cast("long").alias(c)
             for c in ("c", "d", "n_rows", "n_ids")]
    upsert = (spark.read.parquet(target_dir)
              .select(F.lit("upsert").alias("kind"),
                      F.col("event_id").cast("long").alias("a"),
                      F.col("user_id").cast("long").alias("b"), *nulls,
                      F.round("value", 6).alias("val")))
    return sink.unionAll(upsert)


def _q_streaming_ops_suite(spark, sf):
    """S6 + S7 + ST7 + ST2 + ST4 — the streaming sink/discipline paths
    checked END-TO-END (r5 verdict #1: these families were pytest-only
    because the registry had no free slots):

    - `good`/`quarantined`: a TRUE readStream runs through
      start_quarantining_stream's foreachBatch split — rows passing the
      validity predicate land in the partitioned processed sink (S6, the
      Firehose buffer contract py:199-213), rows failing it are appended
      to the errors/ quarantine with a reason (ST7 dead-letter routing,
      py:198 + py:122-137) — then BOTH sinks are read back from disk.
      The oracle states the good/bad partition of events directly, so a
      dropped row, duplicated batch, mis-routed row, or type drift
      through the parquet/JSON sinks all hash-mismatch.
    - `dlq_good`/`dlq_dead` (r7, verdict #2): the bounded-retry
      redelivery contract (SQS redrive max_receive_count=3 -> DLQ,
      py:133-137) with a deterministically failing delivery — planted
      transient poison retried to success (attempts=3 recorded),
      permanent poison dead-lettered with its attempts count, healthy
      rows through on delivery 1.
    - `st2` (r6): the NATIVE partitioned streaming sink
      (start_partitioned_stream — writeStream format parquet, hive
      year/month/day/hour layout, exactly-once via checkpoint), read
      back through a day=16 PARTITION-PRUNED scan, so both the sink's
      row fidelity and its partition-column derivation are
      value-checked.
    - `late_window` (r6, ST4): watermark late-data discipline through a
      real two-run checkpointed streaming aggregation — run 1 drains the
      fixture through an append-mode 1h-tumbling agg with a 1h
      watermark; run 2 lands ONE planted late row (min fixture ts, value
      99999) and resumes from the checkpoint. The watermark persisted at
      run 1's end (max_ts - 1h) drops the late row; append mode emits
      exactly the windows whose end <= that watermark. If the drop
      failed, the stale window's state would re-emit as a duplicate
      window row with the planted value — a row-count AND hash mismatch.
      The oracle states the emitted set directly: fixture hour windows
      with window_start + 2h <= max(ts), fixture values only.

    Fresh uuid working dirs per call (the checkpointed streams must see
    empty sinks), prior dirs swept age-gated."""
    import tempfile
    import uuid

    from serverless_data_pipeline_spark.streaming.sinks import (
        start_partitioned_stream, start_quarantining_stream,
        start_redelivery_stream,
    )
    from serverless_data_pipeline_spark.streaming.windows import (
        stream_static_enrich, tumbling_agg,
    )

    _prep(spark)
    _sweep_aged_tmp("sdp_sops_")
    base = tempfile.gettempdir() + f"/sdp_sops_{uuid.uuid4().hex[:8]}"
    q = start_quarantining_stream(
        _events_readstream(spark, sf),
        good_path=base + "/good", error_path=base + "/errors",
        checkpoint=base + "/ckpt",
        validity=F.col("value") >= 0.05,
        trigger={"availableNow": True})
    q.awaitTermination(300)
    natt = F.lit(None).cast("long").alias("attempts")
    cols = [F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type"),
            F.round("value", 6).alias("value")]
    good = (spark.read.parquet(base + "/good")
            .select(F.lit("good").alias("kind"), *cols, natt))
    bad = (spark.read
           .schema("event_id long, user_id long, event_type string, "
                   "value double")
           .json(base + "/errors")
           .select(F.lit("quarantined").alias("kind"), *cols, natt))

    # dlq arms (r7, verdict #2): the bounded-retry redelivery contract
    # run END-TO-END — transient poison (event_id % 50 == 3) fails
    # deliveries 1-2 and must land in the good sink with attempts=3;
    # permanent poison (event_id % 50 == 7) exhausts all 3 deliveries
    # and must land in the DLQ with attempts=3; everything else lands
    # with attempts=1. The oracle states both partitions and the
    # attempts arithmetic directly, so a lost row, an extra delivery,
    # a premature DLQ, or a dropped retry all hash-mismatch.
    q3 = start_redelivery_stream(
        _events_readstream(spark, sf),
        good_path=base + "/dlq_good", dlq_path=base + "/dlq_dead",
        checkpoint=base + "/ckpt3",
        succeeds_at=lambda a: (
            ~((F.col("event_id") % 50 == 3) & (F.lit(a) < 3))
            & ~(F.col("event_id") % 50 == 7)),
        trigger={"availableNow": True})
    q3.awaitTermination(300)
    dgood = (spark.read.parquet(base + "/dlq_good")
             .select(F.lit("dlq_good").alias("kind"), *cols,
                     F.col("attempts").cast("long").alias("attempts")))
    ddead = (spark.read
             .schema("event_id long, user_id long, event_type string, "
                     "value double, attempts long")
             .json(base + "/dlq_dead")
             .select(F.lit("dlq_dead").alias("kind"), *cols,
                     F.col("attempts").cast("long").alias("attempts")))

    q2 = start_partitioned_stream(
        _events_readstream(spark, sf), base + "/st2",
        checkpoint=base + "/ckpt2", trigger={"availableNow": True})
    q2.awaitTermination(300)
    st2 = (spark.read.parquet(base + "/st2")
           .filter(F.col("day") == 16)
           .select(F.lit("st2").alias("kind"), *cols, natt))

    # enrich arm (r7): native STREAM-STATIC join — each micro-batch
    # broadcast-joins a static 5-row dimension on event_type; the dim's
    # weight rides out in event_type ('click#2'), value (value*w) and
    # attempts (w), so a dropped/duplicated match, a weight mix-up, or
    # a join that didn't actually consult the dim all hash-mismatch.
    dimw = spark.createDataFrame(
        [("click", 2), ("error", 7), ("purchase", 11),
         ("signup", 3), ("view", 5)], "event_type string, weight int")
    # how='inner' EXPLICITLY: the oracle is an inner join, and on the
    # fixtures (full dim coverage, no NULL event_type) a left join
    # happens to coincide — declaring inner keeps the arm's semantics
    # matching the oracle by construction, not by fixture accident
    # (the left path is pytest-covered in tests/test_streaming.py)
    q5 = (stream_static_enrich(_events_readstream(spark, sf), dimw,
                               "event_type", how="inner")
          .writeStream.format("parquet").option("path", base + "/enrich")
          .option("checkpointLocation", base + "/ck5")
          .trigger(availableNow=True).start())
    q5.awaitTermination(300)
    enrich = (spark.read.parquet(base + "/enrich")
              .select(F.lit("enrich").alias("kind"),
                      F.col("event_id").cast("long").alias("event_id"),
                      F.col("user_id").cast("long").alias("user_id"),
                      F.concat("event_type", F.lit("#"),
                               F.col("weight").cast("string"))
                       .alias("event_type"),
                      F.round(F.col("value") * F.col("weight"), 6)
                       .alias("value"),
                      F.col("weight").cast("long").alias("attempts")))

    # mdrift arms (r8): the streaming drift MONITOR — each epoch's
    # event_type mix vs a static reference (X17's kernel inside
    # foreachBatch). Two monitors prove both branches: `mdrift_hot`
    # compares against a reference that EXCLUDES 'error' events (the
    # stream then shows a PSI-huge new category -> flagged), and
    # `mdrift_ok` against the stream's own distribution (every shift
    # statistic exactly zero -> stable). Rows carry (event_id=epoch,
    # user_id=n_categories, event_type=drifted|stable, value=PSI,
    # attempts=n_added); js/tvd are pytest-pinned in the operator
    # tests. Single-file staged source -> exactly one epoch, so the
    # oracle states the whole-table comparison.
    from serverless_data_pipeline_spark.streaming.monitor import (
        start_drift_monitor_stream,
    )
    ev_static = _t(spark, sf, "events")
    qm1 = start_drift_monitor_stream(
        _events_readstream(spark, sf),
        ev_static.filter(F.col("event_type") != "error"),
        "event_type", base + "/mdrift_hot", base + "/ckm1",
        trigger={"availableNow": True})
    qm2 = start_drift_monitor_stream(
        _events_readstream(spark, sf), ev_static,
        "event_type", base + "/mdrift_ok", base + "/ckm2",
        trigger={"availableNow": True})
    qm1.awaitTermination(300)
    qm2.awaitTermination(300)

    def _mrows(path, tag):
        return (spark.read.parquet(path)
                .select(F.lit(tag).alias("kind"),
                        F.col("epoch").cast("long").alias("event_id"),
                        F.col("n_categories").cast("long")
                        .alias("user_id"),
                        F.when(F.col("drifted"), F.lit("drifted"))
                        .otherwise(F.lit("stable")).alias("event_type"),
                        F.col("psi").alias("value"),
                        F.col("n_added").cast("long").alias("attempts")))

    mhot = _mrows(base + "/mdrift_hot", "mdrift_hot")
    mok = _mrows(base + "/mdrift_ok", "mdrift_ok")

    # mdrift_num arm (r10 verdict #2): NUMERIC profile drift in the
    # monitor — the reference carries a planted mean shift (+10) and
    # null surge (every 4th id) on `value` (_MDRIFT_NUM_REF_SQL, same
    # derivation text both engines) while its event_type mix matches
    # the stream exactly, so the row must read categorical-stable
    # (psi 0) but numeric-drifted, with BOTH max-abs deltas
    # value-checked: event_type = numdrift|numstable, value =
    # max_abs_vavg_delta, attempts = micro-units of
    # max_abs_null_frac_delta. The reference profile is aggregated
    # ONCE at stream start (no-rescan pinned in pytest).
    ref_num = ev_static.select(
        "event_type", F.expr(_MDRIFT_NUM_REF_SQL).alias("value"))
    qm3 = start_drift_monitor_stream(
        _events_readstream(spark, sf), ref_num,
        "event_type", base + "/mdrift_num", base + "/ckm3",
        numeric_cols=["value"], trigger={"availableNow": True})
    qm3.awaitTermination(300)
    mnum = (spark.read.parquet(base + "/mdrift_num")
            .select(F.lit("mdrift_num").alias("kind"),
                    F.col("epoch").cast("long").alias("event_id"),
                    F.col("n_categories").cast("long")
                    .alias("user_id"),
                    F.when(F.col("numeric_drifted"),
                           F.lit("numdrift"))
                    .otherwise(F.lit("numstable")).alias("event_type"),
                    F.col("max_abs_vavg_delta").alias("value"),
                    F.round(F.col("max_abs_null_frac_delta")
                            * 1000000).cast("long").alias("attempts")))

    # alarm arms (r10): the remaining CloudWatch-alarm analogues run
    # against the sinks this suite ALREADY produced. `alarm` =
    # dlq_depth_alarm over the redelivery DLQ (depth = the permanent
    # poison population event_id % 50 == 7, modal reason =
    # failed_after_3_deliveries, pages at the reference's threshold 1);
    # `alarm2` = throughput_alarm over the mdrift_ok monitor sink
    # (single-file source -> exactly one epoch carrying every event
    # row, so threshold=0/k=1 must read hot_tail=1 and page). The
    # oracle derives both rows from the events table directly.
    from serverless_data_pipeline_spark.streaming.monitor import (
        dlq_depth_alarm, throughput_alarm,
    )
    dlqr = spark.read.schema(
        "event_id long, _error_reason string").json(base + "/dlq_dead")
    al = (dlq_depth_alarm(dlqr)
          .select(F.lit("alarm").alias("kind"),
                  F.col("depth").alias("event_id"),
                  F.col("n_reasons").alias("user_id"),
                  F.col("top_reason").alias("event_type"),
                  F.lit(None).cast("double").alias("value"),
                  F.col("alarm").cast("long").alias("attempts")))
    al2 = (throughput_alarm(spark.read.parquet(base + "/mdrift_ok"),
                            threshold=0, k=1)
           .select(F.lit("alarm2").alias("kind"),
                   F.col("n_epochs").alias("event_id"),
                   F.col("hot_tail").alias("user_id"),
                   F.lit(None).cast("string").alias("event_type"),
                   F.lit(None).cast("double").alias("value"),
                   F.col("alarm").cast("long").alias("attempts")))

    land, out4, ck4 = base + "/late_land", base + "/late_out", base + "/ck4"
    evs = _t(spark, sf, "events").select("ts", "value")
    evs.write.parquet(land)
    late_schema = spark.read.parquet(land).schema

    def _drain_tumbling():
        stream = spark.readStream.schema(late_schema).parquet(land)
        agg = tumbling_agg(stream, keys=(), width="1 hour",
                           watermark="1 hour")
        qq = (agg.writeStream.format("parquet").option("path", out4)
              .option("checkpointLocation", ck4).outputMode("append")
              .trigger(availableNow=True).start())
        qq.awaitTermination(300)

    _drain_tumbling()
    min_ts = evs.agg(F.min("ts")).first()[0]
    spark.createDataFrame([(min_ts, 99999.0)], late_schema) \
        .write.mode("append").parquet(land)
    _drain_tumbling()
    late = (spark.read.parquet(out4)
            .select(F.lit("late_window").alias("kind"),
                    F.unix_timestamp("window_start").alias("event_id"),
                    F.col("n_events").cast("long").alias("user_id"),
                    F.lit(None).cast("string").alias("event_type"),
                    F.col("sum_value").alias("value"), natt))
    return (good.unionAll(bad).unionAll(st2).unionAll(late)
            .unionAll(dgood).unionAll(ddead).unionAll(enrich)
            .unionAll(mhot).unionAll(mok).unionAll(mnum)
            .unionAll(al).unionAll(al2))


def _q_s8_s9_suite(spark, sf):
    """S8 + S9 — retention enforcement and the scheduled incremental
    batch tick checked END-TO-END (r5 verdict #1):

    - `retain`: events written through the partitioned sink, then
      delete_expired_partitions removes every day partition before the
      EXPLICIT cutoff 2024-01-16 (the fixture spans 2024-01-01..30 at
      every sf); the survivors are read back and aggregated per day. The
      oracle states the surviving set directly (date(ts) >= cutoff), so
      an under-delete, over-delete, or a delete that corrupted a
      surviving partition hash-mismatches.
    - `tick`: scheduled_batch_query (S9 — the rate rule as a
      checkpointed file-source trigger, plans/scheduler.py:68) run for
      two availableNow ticks over a two-batch landing: even-id events
      land first, tick 1 drains them; odd-id events land second, tick 2
      must process ONLY them (the checkpoint's incremental contract).
      Each tick appends one aggregate row tagged by the batch's id
      parity — if tick 2 re-read batch 1 (or missed batch 2), the tag
      grouping emits the wrong rows and the oracle (per-parity
      aggregates of events) hash-mismatches.
    - `archive` (r6, S4): the raw-retention archive sink
      (write_archive, snappy) written and read back whole; oracle =
      the global aggregate of events, so archive loss/duplication/type
      drift hash-mismatches."""
    import tempfile
    import uuid

    from serverless_data_pipeline_spark.plans.scheduler import (
        scheduled_batch_query,
    )
    from serverless_data_pipeline_spark.sources.writers import (
        delete_expired_partitions, write_archive,
        write_partitioned_parquet,
    )

    _prep(spark)
    _sweep_aged_tmp("sdp_s89_")
    base = tempfile.gettempdir() + f"/sdp_s89_{uuid.uuid4().hex[:8]}"
    ev = _t(spark, sf, "events")

    write_partitioned_parquet(ev, base + "/retain", mode="overwrite")
    delete_expired_partitions(spark, base + "/retain", "2024-01-16")
    retain = (spark.read.parquet(base + "/retain")
              .groupBy(F.col("day").cast("long").alias("a"))
              .agg(F.count("*").alias("n_rows"), _msum("value", "val"))
              .select(F.lit("retain").alias("kind"), "a",
                      "n_rows", "val"))

    land, out, ckpt = base + "/landing", base + "/ticks", base + "/ckpt"
    slim = ev.select("event_id", "value")
    slim.filter(F.col("event_id") % 2 == 0).write.parquet(land)
    schema = spark.read.parquet(land).schema

    def _run_batch(batch, _tick_id):
        (batch.groupBy(F.pmod(F.col("event_id"), F.lit(2)).alias("a"))
         .agg(F.count("*").alias("n_rows"), _msum("value", "val"))
         .write.mode("append").parquet(out))

    for land_second in (False, True):
        if land_second:
            slim.filter(F.col("event_id") % 2 == 1).write.mode(
                "append").parquet(land)
        q = scheduled_batch_query(spark, land, schema, _run_batch, ckpt,
                                  fmt="parquet", available_now=True)
        q.awaitTermination(300)
    tick = (spark.read.parquet(out)
            .select(F.lit("tick").alias("kind"),
                    F.col("a").cast("long").alias("a"), "n_rows", "val"))

    write_archive(ev.select("event_id", "value"), base + "/archive",
                  mode="overwrite")
    archive = (spark.read.parquet(base + "/archive")
               .agg(F.count("*").alias("n_rows"), _msum("value", "val"))
               .select(F.lit("archive").alias("kind"),
                       F.lit(None).cast("long").alias("a"),
                       "n_rows", "val"))
    return retain.unionAll(tick).unionAll(archive)


def _q_st9_stream_dedup(spark, sf):
    """ST9 — in-stream exact dedup under redelivery, EXECUTED through the
    streaming engine: the events stream unioned with itself is an
    at-least-once delivery (every record arrives twice, the SQS-redrive /
    Kinesis-repoll semantics); dropDuplicatesWithinWatermark keeps
    exactly one copy per event_id. Oracle: the plain distinct event set."""
    from serverless_data_pipeline_spark.streaming.windows import stream_dedup
    _prep(spark)
    s1 = _events_readstream(spark, sf)
    s2 = _events_readstream(spark, sf)
    deduped = stream_dedup(s1.unionAll(s2), keys=["event_id"],
                           ts_col="ts", watermark="1 hour")
    out = _drain_stream(spark, deduped, "st9", output_mode="append")
    return out.select("event_id", "ts", "user_id", "event_type",
                      F.round("value", 6).alias("value"))


def _q_st5_session(spark, sf):
    """ST5 — session windows (30 min gap) per user, executed through the
    streaming engine (merging session state store), final state drained
    via availableNow + complete mode and value-checked by the oracle's
    batch gaps-and-islands SQL."""
    _prep(spark)
    return _drain_stream(
        spark,
        session_agg(_events_readstream(spark, sf), gap="30 minutes"),
        "st5")


# =========================================================== X-ops (X)

def _q_x3_topk_similarity(spark, sf):
    """X3 — exact top-k retrieval, BOTH modalities in one tagged union:
    `cosine` = exact cosine top-10 neighbors for 5 query vectors
    (embeddings), `bm25` (r7) = Okapi BM25 ranked keyword search top-10
    for two fixed text queries (`bm25_topk` — per-term tf/dl integer
    array ops, ONE broadcast stats row, idf quantized to 6 decimals
    before the score so cross-engine ln jitter can't propagate, term
    sum in sorted order; TakeOrderedAndProject heap, never a global
    sort). `rp` (r7): Johnson-Lindenstrauss random projection
    (`random_projection`, Achlioptas sparse {-1,0,+1} matrix, 64 -> 16)
    — every vector's every projected component is value-checked
    (query_id=vec_id, neighbor_id=component index, score=component;
    integer-exact signed sums, so the check is equality, not
    tolerance). `cbal_s`/`cbal_u` (r7): cluster-balanced diversity
    sampling (`cluster_balanced_sample`, 4 committed signed-sparse
    centroids, 25 docs/cell md5-ranked quota) — EVERY vector's cell
    assignment, winning score and in/out-of-sample verdict is
    value-checked (mode encodes the flag, neighbor_id the cell).
    `hardneg` (r7 s6): hard-negative mining for contrastive training
    data (`hard_negatives` — top-k similar EXCLUDING self + listed
    positives, exact one-scan form; the ANN-shortlist composition is
    pytest-pinned). The cos and hardneg arms both score queries x
    corpus; sharing ONE checkpointed scored_pairs frame was A/B'd at
    sf0.1 (interleaved warm: 2.7/2.0 s separate vs 2.8/1.6 s shared)
    — a wash, the blocking materialization offsets the saved narrow
    pass, so the row keeps the form that exercises the public
    operator (the x7/x13 checkpoint-no-win precedent). Columns harmonized to (mode, query_id,
    neighbor_id, score)."""
    # r13: per-subtree spread rejected (see the x_approx ANN arms). r14
    # (verdict #9): ONE shared spread_checkpoint leaf feeding all
    # x3/x_approx arms re-tried and REJECTED harder — x3 2.43->3.15 s,
    # x_approx 4.80->9.83 s (alternated min-of-3): the eager checkpoint
    # barrier serializes ahead of every concurrent arm build and the
    # 2000-row table spread to 32 partitions hands 62-row batches to
    # every Arrow stage.
    #
    # r13 (optimization round, guide §2.6): the five arms are lazy but
    # their CONSTRUCTION is ~2.5 s of driver-side expression building
    # and Catalyst analysis (bm25 twice, random-projection's 1024-term
    # signed sums, the brute-force score matrix); the py4j calls
    # release the GIL, so the arm builds parallelize cleanly in JVM
    # threads (interleaved min-of-3 at sf0.1: total 4.8 s -> 3.5 s).
    # Same frames, same rows.
    return _union(_X3_ARMS, _Shared(spark, sf, _X3_SHARED), concurrent=True)


def _x3_cosine(s):
    e = s.e
    queries_df = e.filter(F.col("vec_id") < 5)
    return (brute_force_topk_join(queries_df, e, "vec_id",
                                  "embedding", "vec_id",
                                  "embedding", k=10)
            .select(F.lit("cosine").alias("mode"), "query_id",
                    F.col("neighbor_id").cast("long"),
                    F.col("cosine").alias("score")))


def _x3_bm25(s):
    bm = None
    for qid, q in enumerate(("spark join order window",
                             "merge sort key table scan")):
        arm = (bm25_topk(s.docs, "doc_id", "text", q, k=10)
               .select(F.lit("bm25").alias("mode"),
                       F.lit(qid).cast("long").alias("query_id"),
                       F.col("doc_id").cast("long")
                       .alias("neighbor_id"),
                       F.round("bm25", 6).alias("score")))
        bm = arm if bm is None else bm.unionAll(arm)
    return bm


def _x3_rp(s):
    return (random_projection(s.e, "embedding", 16, in_dim=64, seed=1234)
            .select(F.lit("rp").alias("mode"),
                    F.col("vec_id").alias("query_id"),
                    F.posexplode("proj"))
            .select("mode", "query_id",
                    F.col("pos").cast("long").alias("neighbor_id"),
                    F.col("col").alias("score")))


def _x3_cbal(s):
    return (cluster_balanced_sample(
                s.e, "vec_id", "embedding", _X3_CENTROIDS, per_cluster=25)
            .select(F.concat(F.lit("cbal_"),
                             F.when(F.col("sampled"), F.lit("s"))
                             .otherwise(F.lit("u"))).alias("mode"),
                    F.col("vec_id").alias("query_id"),
                    F.col("cell").cast("long").alias("neighbor_id"),
                    F.col("cell_score").alias("score")))


def _x3_hardneg(s):
    # hardneg arm (r7 s6): hard-negative mining — top-10 most-similar
    # corpus vectors per query EXCLUDING the query and its two listed
    # positives (q+1, q+2); ranked on the round-6 cosine in BOTH
    # engines, so the ranking comparison is exact
    e = s.e
    hn_pos = (e.filter(F.col("vec_id") < 5)
              .select("vec_id",
                      F.explode(F.array(F.col("vec_id") + 1,
                                        F.col("vec_id") + 2))
                      .alias("pos_id")))
    return (hard_negatives(e.filter(F.col("vec_id") < 5), hn_pos, e,
                           "vec_id", "embedding", "vec_id",
                           "embedding", k=10, dim=64)
            .select(F.lit("hardneg").alias("mode"), "query_id",
                    F.col("neg_id").cast("long").alias("neighbor_id"),
                    F.col("cosine").alias("score")))


_X3_SHARED = {"e": lambda s: s.t("embeddings"),
              "docs": lambda s: s.t("documents")}
_X3_ARMS = {"cosine": _x3_cosine, "bm25": _x3_bm25, "rp": _x3_rp,
            "cbal": _x3_cbal, "hardneg": _x3_hardneg}


def _x3_centroids() -> list[list[float]]:
    """The committed x3 cbal centroids: the 4 transposed columns of
    achlioptas_matrix(64, 4, seed=99) — signed-sparse, seed-derived,
    reproducible anywhere."""
    return [[float(x) for x in col]
            for col in zip(*achlioptas_matrix(64, 4, seed=99))]


_X3_CENTROIDS = _x3_centroids()


def _q_x5_text_signals(spark, sf):
    """X5 — the whole text-analysis suite in one oracle-checked join:
    marker-word language identification, quality signals, md5
    fingerprints with duplicate-group sizes (doc grain), and the
    per-language corpus token statistics broadcast back onto each doc.

    ALL doc-grain signals come from ONE projection over one scan (they
    are narrow column expressions; codegen subexpression elimination
    shares the repeated tokenizations) — no doc_id shuffle joins at all
    for the signal half. The aggregates join back on their own grain:
    dup counts on fp, lang stats via broadcast. r7 adds `top_terms`
    (`top_tfidf_terms` — per-doc top-3 TF-IDF keywords as one ranked
    comma-joined string; keyword extraction inherently keys a shuffle
    on (doc, term), the one doc-grain join in the row). r7 s6 adds
    `char_entropy` — per-doc Shannon entropy over characters (the
    cheap both-tails quality gate: repetition scores low, encoded
    noise scores near the alphabet ceiling), round-6 terms + exact
    integer accumulation, value-checked. Measured sf0.1:
    7.5s cold / 2.5s warm for the 4-frame join form -> 4.3 / 2.0
    single-pass (pre-r7)."""
    sig, dups, stats, terms, ent = _build(
        _X5_ARMS, _Shared(spark, sf, _X5_SHARED))
    return (sig.join(dups, "fp")
            .join(F.broadcast(stats), "lang").drop("lang")
            .join(terms, "doc_id", "left")
            .withColumn("top_terms", F.coalesce("top_terms", F.lit("")))
            .join(ent, "doc_id", "left")
            .select("doc_id", "predicted_lang", "q_chars", "q_tokens",
                    "q_punct_ratio", "q_stopword_ratio", "q_score",
                    "fp", "dup_count", "total_tokens", "total_bpe_tokens",
                    "vocab", "top_terms", "n_distinct_chars",
                    "char_entropy"))


_X5_SHARED = {
    "docs": lambda s: s.t("documents"),
    "base": lambda s: quality_features(language_id(s.docs)).select(
        "doc_id", "lang", "predicted_lang", "q_chars", "q_tokens",
        "q_punct_ratio", "q_stopword_ratio", "q_score",
        fingerprint("text").alias("fp")),
}
# a join row, not a union: the arms are the join inputs, in join order
_X5_ARMS = {
    "signals": lambda s: s.base,
    "dups": lambda s: s.base.groupBy("fp").agg(
        F.count("*").alias("dup_count")),
    "stats": lambda s: token_stats(s.docs).select(
        "lang", "total_tokens", "total_bpe_tokens", "vocab"),
    "terms": lambda s: top_tfidf_terms(s.docs, "doc_id", "text", top_n=3),
    "entropy": lambda s: char_entropy(
        s.docs.select("doc_id", "text"), "doc_id", "text").select(
        "doc_id", "n_distinct_chars", "char_entropy"),
}


def _q_x6_multimodal(spark, sf):
    """X6 — the whole multimodal family in one tagged union (registry
    consolidation, r4 verdict), and now FULLY oracle-checked (the binary
    half was rows-only through r4):

    - `media`: documents ⋈ embeddings on the shared id space (multimodal
      join), payload attached, then the metadata-only aggregate (payload
      bytes never read — ReadSchema pruning). The group key mixes a
      document column with an embedding column so the oracle proves the
      join actually fed the aggregate.
    - `binary`: both binary-payload UDF paths — the Arrow-batched
      decode/featurize stub (mapInPandas) joined with the frame-sampling
      row explosion aggregated back to media grain. The stub features are
      a normalized byte-bucket histogram; multiplying back by n_bytes
      recovers the EXACT integer bucket counts (|round6(c/n)*n - c| <
      0.5 for n < 1e6), which the DuckDB oracle recomputes from the hex
      dump of the same UTF-8 payload (byte % 8 == low nibble % 8) — so
      the Python featurizer boundary itself is value-checked, not just
      row-counted.
    - `decoded` (r6, closing the r5 verdict's decode-stub partial): a
      REAL media decode — synthesize_wav_payload builds a genuine
      RIFF/WAVE container per doc (deterministic PCM from doc_id),
      extract_features(decode_stub=False) parses it back with stdlib
      `wave` and computes frame-level signal features. The oracle
      recomputes n_frames / exact sample sum / rms from the generator's
      closed form, so a mis-parsed header, wrong endianness, or dropped
      frame hash-mismatches.

    - `img` (r11, closing the image half): a REAL image decode —
      synthesize_bmp_payload builds a genuine 24-bit uncompressed BMP
      per doc, extract_image_features parses headers + pixel array
      (bottom-up rows, 4-byte padding, BGR all undone); the oracle
      recomputes order-sensitive statistics from the closed form.

    - `vid` (r12, closing the video half — the LAST decode stub): a
      REAL video demux — synthesize_y4m_payload builds a genuine
      YUV4MPEG2 stream per doc, extract_video_features +
      frame_sample(decode_stub=False) parse it back; the oracle
      recomputes every statistic from the closed form.

    Columns harmonized to (kind, key, a, b, c, v, h): media rows carry
    (mime|src_label, n_items, total_bytes, NULL, avg_bytes, NULL);
    binary rows carry (media_id, n_bytes, n_frames, last_offset, NULL,
    counts_csv); decoded rows carry (media_id, n_frames, sample_rate,
    sample_sum, rms, NULL); img rows carry (media_id, pixel_sum,
    corner_rgb, wsum, NULL, 'WxH'); vid rows carry (media_id,
    plane_sum, corner_yuv, wsum, frame-weighted-luma-sum, 'WxHxN')."""
    return _union(_X6_ARMS, _Shared(spark, sf, {}))


_X6_LAYOUT = (("key", "string"), ("a", "long"), ("b", "long"), ("c", "long"),
              ("v", "double"), ("h", "string"))


def _x6_row(kind, df, **cols):
    """An x6 arm: media-grain arms key on the media id."""
    cols.setdefault("key", F.col("media_id").cast("string"))
    return _slots(df, "kind", kind, _X6_LAYOUT, **cols)


def _x6_media(s):
    joined = multimodal_join(s.t("documents"), s.t("embeddings"))
    joined = joined.withColumn(
        "src_label", F.concat_ws("#", "source",
                                 F.pmod(F.col("label"), F.lit(2))))
    media_j = attach_binary_payload(joined, "doc_id", "text", "src_label")
    return _x6_row("media", media_metadata_stats(media_j),
                   key=F.concat_ws("|", "mime", "source"),
                   a=F.col("n_items").cast("long"),
                   b=F.col("total_bytes").cast("long"), v="avg_bytes")


def _x6_binary(s):
    payload = attach_binary_payload(s.t("documents"),
                                    "doc_id", "text", "source")
    feats = extract_features(payload).select(
        "media_id", "n_bytes",
        F.array_join(
            F.transform("features",
                        lambda x: F.round(x * F.col("n_bytes"))
                                   .cast("long").cast("string")),
            ",").alias("counts_csv"))
    frames = (frame_sample(payload, every_n_bytes=64)
              .groupBy("media_id")
              .agg(F.count("*").alias("n_frames"),
                   F.max("byte_offset").alias("last_offset")))
    return _x6_row("binary", feats.join(frames, "media_id"),
                   a=F.col("n_bytes").cast("long"),
                   b=F.col("n_frames").cast("long"),
                   c=F.col("last_offset").cast("long"), h="counts_csv")


def _x6_decoded(s):
    wav = synthesize_wav_payload(
        s.t("documents").select("doc_id"), "doc_id")
    return _x6_row("decoded", extract_features(wav, decode_stub=False),
                   a="n_frames", b=F.col("sample_rate").cast("long"),
                   c="sample_sum", v="rms")


def _x6_img(s):
    # img arm (r11, closing the image half of the decode stub): a REAL
    # image decode — synthesize_bmp_payload builds a genuine 24-bit
    # uncompressed BMP per doc, extract_image_features parses it back
    # (headers, bottom-up row storage, 4-byte padding, BGR order); the
    # oracle recomputes pixel_sum / corner_rgb / wsum from the
    # generator's closed form, so a scrambled row or channel order
    # hash-mismatches even when the order-invariant sum agrees.
    bmp = synthesize_bmp_payload(
        s.t("documents").select("doc_id"), "doc_id")
    return _x6_row("img", extract_image_features(bmp), a="pixel_sum",
                   b="corner_rgb", c="wsum",
                   h=F.concat_ws("x", F.col("width").cast("string"),
                                 F.col("height").cast("string")))


def _x6_video(s, kind, **synth):
    """vid arm (r12, closing the video half — the LAST decode stub): a
    REAL video demux — synthesize_y4m_payload builds a genuine
    YUV4MPEG2 stream per doc (ASCII header + FRAME markers + three raw
    C444 planes per frame), extract_video_features parses it back and
    frame_sample(decode_stub=False) re-demuxes it at frame grain; the
    oracle recomputes plane_sum / corner_yuv / wsum AND the
    frame-weighted luma sum from the generator's closed form, so
    swapped planes, reordered frames, or a mis-seeked FRAME marker
    hash-mismatch even when the order-invariant sum agrees.

    vid420 arm (r13, r12 verdict #2): the SAME demux contract over
    Y4M's own header-default colorspace (``cspace="420"``) — C420
    chroma planes are (w/2)x(h/2), so a demuxer that assumed full-size
    planes reads into the next frame and fails the marker check; wsum
    weights each plane by ITS OWN grid, which the oracle replays with a
    separate luma/chroma closed-form expansion."""
    # checkpoint: the synthesized payloads feed TWO demux lineages
    # (features + frame sampling) — without this the synthesis UDF,
    # the arm's dominant cost, would run twice
    y4m = synthesize_y4m_payload(
        s.t("documents").select("doc_id"), "doc_id",
        **synth).localCheckpoint(eager=False)
    fsum = (frame_sample(y4m, decode_stub=False)
            .groupBy("media_id")
            .agg(F.sum((F.col("frame_idx") + 1) * F.col("y_sum"))
                 .alias("__fy")))
    return _x6_row(kind, extract_video_features(y4m).join(fsum, "media_id"),
                   a="plane_sum", b="corner_yuv", c="wsum",
                   v=F.col("__fy").cast("double"),
                   h=F.concat_ws("x", F.col("width").cast("string"),
                                 F.col("height").cast("string"),
                                 F.col("n_frames").cast("string")))


_X6_ARMS = {"media": _x6_media, "binary": _x6_binary,
            "decoded": _x6_decoded, "img": _x6_img,
            "vid": lambda s: _x6_video(s, "vid"),
            "vid420": lambda s: _x6_video(s, "vid420", cspace="420")}


def _q_x4_pq_exact(spark, sf):
    """X4 — the deterministic ANN tail, fully ORACLED (r12, r11
    verdict #3: shrink the rows-only surface to the genuinely
    non-replayable LSH/k-means arms): the PQ encode -> ADC lookup ->
    exact re-rank chain and the composed IVF-PQ probe are pure
    arithmetic over COMMITTED codebooks/centroids
    (operators/similarity_artifact.py — trained once on the sf0.01
    fixture and frozen, the btok/PageRank discipline), so a DuckDB
    replay from the SAME literals value-checks the production probe
    path end to end:

    - `pq_adc`: pq_topk(refine=0) — codes-only asymmetric-distance
      top-20 (the argmin encode AND the two-LUT ADC estimate are both
      in the hash);
    - `pq_refined`: pq_topk(refine=50) — ADC shortlist then exact-
      cosine re-rank to top-10 (the shortlist BOUNDARY is in the
      hash: a wrong ADC ordering admits different candidates);
    - `ivfpq`: build_ivfpq_index + ivfpq_topk — coarse cell argmax,
      driver-side n_probe=4 cell pruning, ADC, exact re-rank.

    Float parity note: both engines compute in float64 from the same
    literals; the only divergence is summation ORDER (numpy BLAS vs
    sequential list_sum), ~1e-16 relative — a flip would need a tie
    at ~1e-12, and the measured worst-case margins over the committed
    artifact + fixtures are >= 10 orders above that (sf0.01/sf0.1:
    min argmin margin 2.5e-5/2.0e-6, min cell margin 3.5e-4/1.6e-5,
    min nonzero ADC gap 3.9e-8/7.1e-8, min distance to a 6dp rounding
    boundary 2.9e-4/3.5e-4; floors pytest-pinned in
    tests/test_similarity.py). Columns (method, id, cosine)."""
    return _union(_X4_ARMS, _Shared(spark, sf, _X4_SHARED))


def _x4_pq(s, method, k, refine):
    return _x4_tag(pq_topk(s.e, "vec_id", "embedding",
                           PQ_ORACLE_QUERY, k=k,
                           codebooks=PQ_COMMITTED_CODEBOOKS,
                           refine=refine), method)


def _x4_ivfpq(s):
    e, books = s.e, PQ_COMMITTED_CODEBOOKS
    cents = IVF_COMMITTED_CENTROIDS
    idx = build_ivfpq_index(e, "vec_id", "embedding", 64,
                            centroids=cents, codebooks=books)
    return _x4_tag(ivfpq_topk(idx, e, "vec_id", "embedding",
                              PQ_ORACLE_QUERY, k=10, centroids=cents,
                              codebooks=books, n_probe=4, refine=50),
                   "ivfpq")


def _x4_tag(df, m):
    return df.select(F.lit(m).alias("method"),
                     F.col("vec_id").cast("long").alias("id"), "cosine")


_X4_SHARED = {"e": lambda s: s.t("embeddings")}
_X4_ARMS = {"pq_adc": lambda s: _x4_pq(s, "pq_adc", k=20, refine=0),
            "pq_refined": lambda s: _x4_pq(s, "pq_refined", k=10, refine=50),
            "ivfpq": _x4_ivfpq}


def _q_udf_pandas_vectorized(spark, sf):
    """UDF — BOTH Python-boundary shapes of SURVEY §2.9 in one tagged
    union, each against a relational oracle: a scalar Arrow-batched
    pandas UDF (arithmetic-only, bit-exact) and the grouped-map
    applyInPandas UDAF shape (per-language embedding centroid; the val
    column is the centroid's L2 norm, 6dp — numpy group mean vs DuckDB
    per-position AVG agree far beyond that rounding)."""
    from pyspark.sql.functions import pandas_udf

    from serverless_data_pipeline_spark.operators.similarity import (
        group_centroids,
    )

    @pandas_udf("double")
    def half_plus_one(v: pd.Series) -> pd.Series:
        return v * 0.5 + 1.0

    scalar = _t(spark, sf, "events").select(
        F.lit("scalar").alias("kind"),
        F.col("event_id").cast("string").alias("key"),
        half_plus_one("value").alias("val"))
    tagged = (_t(spark, sf, "embeddings")
              .join(_t(spark, sf, "documents"),
                    F.col("vec_id") == F.col("doc_id"))
              .select("lang", "embedding"))
    cents = group_centroids(tagged, "lang", "embedding", dim=64)
    grouped = cents.select(
        F.lit("centroid").alias("kind"),
        F.col("lang").alias("key"),
        F.expr("round(sqrt(aggregate(transform(centroid, x -> x * x), "
               "0D, (s, x) -> s + x)), 6)").alias("val"))
    return scalar.unionAll(grouped)


# ------------------------- rows-only (non-SQL-expressible candidates) ----

def _q_x_approx_suite(spark, sf):
    """G2-approx + G6-approx + X2 sketch flavours + X4 ANN — EVERY
    rows-only-by-design operator in ONE tagged union (r6 registry
    consolidation: merging the three no_oracle rows frees two driver
    slots for the operational suites without demoting any oracled row).
    Rows-only because none is ANSI-SQL-expressible — sketch algorithms
    (HLL, KLL) differ per engine, and LSH banding / k-means cells have
    no SQL oracle; every member is pinned by pytest instead
    (planted-pair tests, recall floors, sketch error bounds). r12
    shrank the no-oracle surface: the DETERMINISTIC ANN tail (PQ
    encode -> ADC -> exact re-rank, and the composed IVF-PQ probe)
    is now fully hash-oracled over COMMITTED codebooks in the
    x4_pq_exact row — what stays rows-only here is the genuinely
    non-replayable part (RUNTIME k-means/Lloyd training, LSH banding).

    Columns harmonized to (method, key, id_a, id_b, metric):
    - `sketch_hll` / `sketch_p50` rows carry (o_orderstatus, NULL, NULL,
      approx value) — G2/G6 approximate aggregates;
    - the four X2 near-dup flavours (minhash/simhash/embedding/semantic)
      carry (NULL, id_a, id_b, flavour score);
    - the seven X4 ANN shapes carry (NULL, query_id, neighbor_id,
      cosine);
    - `sketch_cms` rows (NEW r7 — Count-Min point-frequency sketch,
      the third standard sketch beside HLL and KLL: depth×width bounded
      cell table, one-sided estimates) carry (token, NULL, NULL,
      estimated corpus frequency) for five fixed probe tokens; the
      one-sided/merge/error-bound laws are pytest-pinned
      (tests/test_sketches.py);
    - `sketch_hll_merged` rows (r7 s6 — the MERGEABLE DataSketches HLL
      path, `hll_build`/`hll_merge`/`hll_estimate`: per-source sketches
      built independently, unioned by register max, estimated without
      rescanning either batch — the incremental-maintenance form of
      distinct counting) carry (lang, NULL, NULL, estimated distinct
      docs); the merge-within-error-band-of-whole-build and accuracy
      laws are pytest-pinned (tests/test_sketches.py)."""
    # r13 (optimization round, guide §2.6): the LSH and ANN arms perform
    # independent EAGER construction work — the minhash signature
    # checkpoint, the SemDeDup k-means fit, the IVF k-means fit and the
    # PQ sample collect (7.1 s build / 61 jobs of the row's 11.6 s
    # profile at sf0.1, sequential). Build them concurrently; frames
    # and rows are unchanged.
    return _union(_XA_ARMS, _Shared(spark, sf, _XA_SHARED), concurrent=True)


def _xa(df, method, metric, id_a=None, id_b=None, key=None):
    """An x_approx arm: sketch arms carry NULL ids, pair/ANN arms a NULL
    key."""
    return _slots(df, "method", method,
                  (("key", "string"), ("id_a", "long"), ("id_b", "long"),
                   ("metric", "double")),
                  key=key, id_a=id_a, id_b=id_b, metric=metric)


def _xa_pairs(df, method, metric):
    return _xa(df, method, metric, "id_a", "id_b")


def _xa_sketch_cms(s):
    tok = (spread_small_input(s.t("documents"))
           .select(F.explode(tokens("text")).alias("t")))
    cms = cms_build(tok, "t", depth=4, width=4096)
    probe = tok.sparkSession.createDataFrame(
        [("table",), ("spark",), ("data",), ("vector",), ("window",)],
        "t string")
    return _xa(cms_estimate(cms, probe, "t", depth=4, width=4096),
               "sketch_cms", F.col("est").cast("double"), key="t")


def _xa_sketch_hll_merged(s):
    # mergeable-HLL arm: per-source sketches merged per lang — batches
    # never rescanned, the distinct-doc-id estimate read off the union
    docs_h = s.t("documents").select(
        "lang", "source", F.col("doc_id").cast("string").alias("did"))
    hsk = hll_build(docs_h, "did", by=("lang", "source"))
    return _xa(hll_estimate(hll_merge(hsk, by=("lang",)), by=("lang",)),
               "sketch_hll_merged", F.col("n_distinct_est").cast("double"),
               key="lang")


def _xa_semantic(s):
    """SemDeDup: k-means clusters + within-cluster greedy cosine dedup;
    dropped rows surface as (dropped, kept-representative) pairs."""
    # max_iter=5 caps the driver-side Lloyd rounds: dedup only needs
    # clusters that co-locate near-identical vectors, which k-means
    # reaches in a few rounds — at 100 TB the codebook comes from one
    # offline training anyway.
    out = semantic_dedup(s.t("embeddings"), "vec_id", "embedding",
                         threshold=0.3, n_clusters=16, dim=64, max_iter=5)
    return _xa(out.filter(~F.col("keep")), "semantic", F.col("dup_sim"),
               F.col("vec_id"), F.col("dup_of"))


# The seven X4 ANN shapes (rows-only: LSH/IVF pruning isn't
# SQL-expressible; recall vs the exact X3 result is pytest-asserted per
# shape in tests/test_similarity.py), each probing q = [0.1] * 64:
# - `lsh_inline`: single-vector sign-LSH probe, buckets computed on the
#   scan (query_id = -1);
# - `lsh_indexed`: same probe over MATERIALIZED bucket columns
#   (add_sign_lsh_buckets) — the index-build/probe split that is
#   partition-prunable at 100 TB (query_id = -2);
# - `lsh_join`: two-table batch ANN join on bucket collisions (5 query
#   vectors) — the scale path when the query set can't broadcast;
# - `ivf`: probed top-k with a TRAINED k-means codebook
#   (train_ivf_centroids, the real offline index build; query_id = -3);
# - `ivf_indexed` (r6): the same probe over MATERIALIZED cell ids
#   (assign_ivf_cells) — the inverted-file build/probe split whose
#   single-column IN filter partition-prunes (query_id = -5);
# - `pq_refined`: product-quantization ADC top-50 shortlist from
#   trained per-subspace codebooks, exact-cosine re-rank to top-10
#   (train_pq_codebooks/pq_topk — the m-bytes-per-vector billion-scale
#   index shape; query_id = -4);
# - `ivfpq` (r7): the COMPOSED IVFADC layout (Jégou et al. TPAMI'11 /
#   FAISS IVFPQ) — build_ivfpq_index's codes-only (id, cell, code)
#   frame probed by cell pruning + ADC + exact re-rank on a broadcast
#   shortlist join (query_id = -6). Reuses the cells/codebooks trained
#   for `ivf`/`pq_refined`, so the arm's added cost is the probe
#   itself; the written-partitionBy(cell) form's pruning + codes-only
#   ReadSchema are plan-asserted in tests/test_similarity.py.
# multiprobe=2 at the cheap 2x8 LSH config (r6): measured recall@10 on
# the adversarial random-vector fixture (scripts/ann_recall.py, sf0.1)
# 0.14 exact-bucket -> 0.30 at 1 flip -> 0.64 at 2 flips — 37 probed
# buckets/table, zero extra index storage.
_XA_Q = [0.1] * 64


def _xa_ann(df, method, qid=None):
    nid = "neighbor_id" if "neighbor_id" in df.columns else "vec_id"
    qcol = F.col("query_id") if qid is None else F.lit(qid).cast("long")
    return _xa(df, method, F.col("cosine"), qcol, F.col(nid))


def _xa_lsh_indexed(s):
    return _xa_ann(ann_topk_indexed(
        add_sign_lsh_buckets(s.e, "embedding", dim=64, n_tables=2,
                             n_planes=8),
        "vec_id", "embedding", _XA_Q, k=10, n_tables=2, n_planes=8,
        multiprobe=2), "lsh_indexed", -2)


def _xa_lsh_join(s):
    queries_df = s.e.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id as q_id", "embedding as qvec")
    return _xa_ann(ann_topk_join(queries_df, s.e, "q_id", "qvec",
                                 "vec_id", "embedding", dim=64, k=10,
                                 n_tables=2, n_planes=8), "lsh_join")


def _xa_ivf_indexed(s):
    return _xa_ann(ivf_topk_indexed(
        assign_ivf_cells(s.e, "embedding", s.cents, dim=64),
        "vec_id", "embedding", _XA_Q, k=10, n_probe=4, centroids=s.cents),
        "ivf_indexed", -5)


def _xa_ivfpq(s):
    ivfpq_index = build_ivfpq_index(s.e, "vec_id", "embedding", 64,
                                    centroids=s.cents, codebooks=s.books)
    return _xa_ann(ivfpq_topk(ivfpq_index, s.e, "vec_id", "embedding",
                              _XA_Q, k=10, centroids=s.cents,
                              codebooks=s.books, n_probe=4, refine=50),
                   "ivfpq", -6)


_XA_SHARED = {
    "sk": lambda s: (s.t("orders").groupBy("o_orderstatus")
                     .agg(F.approx_count_distinct("o_custkey")
                          .alias("approx_custs"),
                          F.percentile_approx("o_totalprice", 0.5)
                          .alias("approx_median_price"))),
    # r13: spreading the 2000-row embeddings scan was A/B-measured and
    # REJECTED (interleaved min-of-3 at sf0.1: x_approx 5.5 s one-
    # partition vs 8.4 s spread) — the repartition instantiates per
    # consumer subtree and 62-row Arrow batches pay more per-task
    # overhead than the parallelism returns on a 2000x64 table.
    "e": lambda s: s.t("embeddings"),
    # the two offline trainings (IVF centroids and PQ codebooks, each one
    # bounded-sample collect + driver-side k-means) are independent; the
    # arms that read them build concurrently, so they train concurrently
    "cents": lambda s: train_ivf_centroids(s.e, "embedding", n_cells=8,
                                           seed=42, max_iter=5),
    "books": lambda s: train_pq_codebooks(s.e, "embedding", dim=64, m=8,
                                          ksub=16, seed=42, sample_n=2048),
}
_XA_ARMS = {
    "sketch_hll": lambda s: _xa(s.sk, "sketch_hll",
                                F.col("approx_custs").cast("double"),
                                key="o_orderstatus"),
    "sketch_p50": lambda s: _xa(s.sk, "sketch_p50",
                                F.col("approx_median_price"),
                                key="o_orderstatus"),
    "sketch_cms": _xa_sketch_cms,
    "sketch_hll_merged": _xa_sketch_hll_merged,
    "minhash": lambda s: _xa_pairs(
        minhash_lsh_pairs(s.t("documents"), "doc_id", "text",
                          jaccard_threshold=0.4,
                          materialize_signatures=True),
        "minhash", F.col("jaccard_est")),
    "simhash": lambda s: _xa_pairs(
        simhash_pairs(s.t("documents"), "doc_id", "text"), "simhash",
        F.col("hamming").cast("double")),
    "embedding": lambda s: _xa_pairs(
        embedding_neardup_pairs(s.t("embeddings"), "vec_id", "embedding",
                                threshold=0.3, n_planes=6, dim=64),
        "embedding", F.col("cosine")),
    "semantic": _xa_semantic,
    "lsh_inline": lambda s: _xa_ann(
        ann_topk(s.e, "vec_id", "embedding", _XA_Q, k=10, n_tables=2,
                 n_planes=8, multiprobe=2), "lsh_inline", -1),
    "lsh_indexed": _xa_lsh_indexed,
    "lsh_join": _xa_lsh_join,
    "ivf": lambda s: _xa_ann(ivf_topk(s.e, "vec_id", "embedding", _XA_Q,
                                      k=10, n_probe=4, centroids=s.cents),
                             "ivf", -3),
    "ivf_indexed": _xa_ivf_indexed,
    "pq_refined": lambda s: _xa_ann(
        pq_topk(s.e, "vec_id", "embedding", _XA_Q, k=10, codebooks=s.books,
                refine=50), "pq_refined", -4),
    "ivfpq": _xa_ivfpq,
}


def _q_x2_dedup_clusters(spark, sf):
    """X2 — exact n-gram Jaccard near-dup pairs AND the components built
    over them, in one tagged union (r6 consolidation: the pair list the
    former x2_ngram_jaccard row verified is emitted here as the `pairs`
    arm — it was already being computed as the CC input, so the merge
    frees a registry slot at zero extra work; the uncapped exact-Jaccard
    variant stays pytest-covered in tests/test_dedup.py).

    Pair-gen runs WITH the document-frequency cap on (the configuration
    you would actually run at 100 TB — a boilerplate shingle shared by
    1M docs otherwise makes a 10^12-pair bucket), and components run
    through BOTH CC algorithms: iterative min-label propagation AND the
    alternating large-star/small-star contraction (the 100x-density
    scale path). The pair list is computed ONCE and checkpointed — the
    `pairs` arm and both CC algorithms read the same 2-column leaf, so
    the union costs one pair-gen plus two (cheap) CC runs. `pagerank`
    (r7): 5 fixed iterations of integer-micro-unit PageRank over the
    SAME symmetrized pair graph (`operators/graph.py`) — the centrality
    signal that ranks each duplication component's template/boilerplate
    hub, and the host-curation kernel in miniature; the oracle unrolls
    the five iterations as plain CTEs, so every message-passing round
    is value-checked, not just the fixpoint. `csize` (r7 s6): the
    duplicate-cluster size histogram (N clusters of size s — the
    standard dedup report line), reusing the same component map. Oracle:
    DuckDB computes the identically-capped pair SQL (with Jaccard) and a
    recursive-CTE transitive closure over it, emitted once per algo tag
    — both algorithms are driver-verified against it, not just
    equivalence-tested against each other (the default "auto" hybrid —
    bounded label prop, star on the contracted residual — is
    driver-verified through x7, whose pipeline calls
    dedupe_by_components with the default). component_id = min doc_id
    transitively reachable — the canonical-doc semantics a corpus dedup
    keeps. Columns harmonized to (algo, id_a, id_b, metric): pairs carry
    the exact Jaccard, component rows carry (doc, component min) with a
    NULL metric; r8 adds a string column `h` (NULL except below).

    `url` + `hostrank` (r8): the host-grain curation composition — a
    deterministically-derived MESSY url per doc (mixed-case scheme/
    host, default port, www., utm_*/fbclid params, fragment — every
    canonicalization step exercised) is normalized by
    `canonicalize_url` (h = the canonical url, value-checked per doc;
    the oracle runs the SAME generated step list in its RE2 dialect),
    then the canonical HOST lifts the checkpointed near-dup pair list
    to a host graph and `host_rank` PageRanks it (3 iterations, each
    value-checked via the unrolled host-prefixed CTEs) — the
    Common-Crawl-style source-centrality signal a crawl curator ranks
    hosts with.

    `hostrankd` (r9): the DIRECTED sibling — the same pair list read
    as hyperlink-shaped edges (id_a links TO id_b), the real
    Common-Crawl host-ranking input shape: direction survives the
    host lift, sink hosts keep the kernel's dangling-mass correction,
    and the oracle runs the directed unroll (per-iteration
    dangling-share CTEs, prefix 'hd').

    `hquota` (r9): `host_quota_sample` — the curation step that
    consumes host signals (per-domain caps, the C4/RefinedWeb
    discipline): src0 capped at 5 docs, src1 at 12, all other hosts
    at the default 8, picked by a seeded deterministic md5 rank;
    every kept (doc, within-host rank) pair value-checked against
    the identical window replayed in the oracle.

    r13 (optimization round, guide §2.6): construction-time EAGER work
    — the pair-gen checkpoint, the label-prop CC rounds + probes, the
    star CC contraction rounds, and the host-arm percentile/quota
    probes — used to run as ONE sequential driver chain (~220 tiny
    jobs, 12.3 s of the row's 13.3 s profile at sf0.1). The chains are
    independent given the checkpointed pair list, so they now build
    through `build_concurrently`: the host/url chain overlaps pair-gen,
    and the CC chain overlaps the rank-kernel builds the moment the
    pair leaf lands. Same frames, same rows — only the schedule
    changes."""
    s = _Shared(spark, sf, _X2_SHARED)
    # Stage 1: the pair-gen checkpoint and the host/url chain (its
    # quota-guard collect + bucketed percentile probes) are independent.
    build_concurrently(lambda: s.pairs, lambda: (s.hq, s.hqq))
    # Stage 2, all over the checkpointed pair leaf: the two CC chains
    # (driver-round-latency-bound: tiny checkpoint + probe jobs per
    # round) and the three PageRank-kernel BUILDS. The latter are
    # driver-side Catalyst planning, not jobs — each per-iteration
    # lazy localCheckpoint plans that round's query via toRdd (~2.5-3 s
    # per kernel warm at sf0.1, measured) — so they parallelize cleanly
    # against the CC jobs in JVM threads. The two CC algorithms stay
    # SEQUENTIAL in one chain: concurrent label/star measured SLOWER
    # than back-to-back (9.9 s vs 7.5 s entry build — their interleaved
    # rounds queue on the driver event loop instead of overlapping).
    build_concurrently(lambda: (s.labmap, s.starmap), lambda: s.pr,
                       lambda: s.hrank, lambda: s.hrankd)
    return _union(_X2_ARMS, s)


def _x2_curl(s):
    """doc_id -> canonical URL for the x2 url/hostrank arms (the
    messy-URL derivation + the generated canonicalization the oracle
    value-checks). Lazily checkpointed: the url rows and the host map
    read it without re-running the regex chain."""
    return (s.t("documents")
            .select("doc_id", F.expr(_X2_RAW_URL_SQL).alias("__raw"))
            .select("doc_id",
                    F.expr(canonicalize_url_sql("__raw", "spark"))
                    .alias("cu"))
            .localCheckpoint(eager=False))


def _x2_quota(s, **order):
    dochost = s.dochost
    if order:
        dochost = dochost.withColumn(
            "q", F.pmod(F.col("doc_id") * 37, F.lit(101)))
    return host_quota_sample(dochost,
                             {"src0.example.com": 5,
                              "src1.example.com": 12},
                             default_quota=8, seed=7, **order)


def _x2_host_rank(s, **kw):
    return host_rank(s.pairs, s.dochost, iters=3, **kw)


_X2_LAYOUT = (("id_a", "long"), ("id_b", "long"), ("metric", "double"),
              ("h", "string"))


def _x2_row(algo, df, **cols):
    return _slots(df, "algo", algo, _X2_LAYOUT, **cols)


def _x2_csize(s):
    # csize arm (r7 s6): the duplicate-cluster size HISTOGRAM — the
    # standard before/after dedup report line ("N clusters of size s").
    # Reuses the label-prop component map: id_a = cluster size, id_b =
    # number of clusters of that size.
    return _x2_row("csize", s.labmap
                   .groupBy("component_id").agg(F.count("*").alias("__sz"))
                   .groupBy("__sz").agg(F.count("*").alias("__n")),
                   id_a=F.col("__sz").cast("long"),
                   id_b=F.col("__n").cast("long"))


def _x2_quota_row(algo, quota):
    return _x2_row(algo, quota, id_a="doc_id",
                   id_b=F.col("host_rank_pos").cast("long"), h="host")


_X2_SHARED = {
    # the df-capped exact-Jaccard pair list every pair-graph arm reads,
    # checkpointed once
    "pairs": lambda s: ngram_jaccard_pairs(
        s.t("documents"), "doc_id", "text", n=3, threshold=0.4,
        max_doc_freq=100, materialize_index=True).localCheckpoint(eager=True),
    "curl": _x2_curl,
    "dochost": lambda s: s.curl.select(
        "doc_id", F.expr(url_host_sql("cu", "spark")).alias("host")),
    "hq": _x2_quota,
    "hqq": lambda s: _x2_quota(s, order_col="q", rank_via="bucketed",
                               n_score_buckets=16),
    # the label-prop component map feeds BOTH the label arm and the
    # csize histogram — checkpoint it so the CC rounds run once
    "labmap": lambda s: (neardup_components(s.pairs, algorithm="label_prop")
                         .localCheckpoint(eager=True)),
    "starmap": lambda s: neardup_components(s.pairs, algorithm="star"),
    "pr": lambda s: pagerank(s.pairs.select(F.col("id_a").alias("src"),
                                            F.col("id_b").alias("dst")),
                             undirected=True, iters=5),
    "hrank": _x2_host_rank,
    "hrankd": lambda s: _x2_host_rank(s, directed=True),
}
# url/hostrank/hostrankd/hquota: see the row docstring. hquotaq (r10):
# the ORDERED hquota variant — keep each host's HIGHEST-quality docs
# instead of a random sample, through the skew-safe bucketed path with
# score-RANGE buckets (n_score_buckets=16 so many scores share a bucket
# and the offset reconstruction is genuinely exercised). The quality
# score is the deterministic (doc_id*37)%101 — derived, not a documents
# re-scan (x2's checkpoint-only/no-FileScan plan pin), and 101 distinct
# values over the corpus guarantee heavy ties so the md5 tiebreak is
# genuinely value-checked; the oracle replays the identical (score
# DESC, md5, id) window.
_X2_ARMS = {
    "pairs": lambda s: _x2_row("pairs", s.pairs, id_a="id_a", id_b="id_b",
                               metric="jaccard"),
    "label": lambda s: _x2_row("label", s.labmap, id_a="id",
                               id_b="component_id"),
    "star": lambda s: _x2_row("star", s.starmap, id_a="id",
                              id_b="component_id"),
    "pagerank": lambda s: _x2_row("pagerank", s.pr, id_a="id",
                                  metric="rank"),
    "csize": _x2_csize,
    "url": lambda s: _x2_row("url", s.curl, id_a="doc_id", h="cu"),
    "hostrank": lambda s: _x2_row("hostrank", s.hrank, metric="rank",
                                  h="id"),
    "hostrankd": lambda s: _x2_row("hostrankd", s.hrankd, metric="rank",
                                   h="id"),
    "hquota": lambda s: _x2_quota_row("hquota", s.hq),
    "hquotaq": lambda s: _x2_quota_row("hquotaq", s.hqq),
}


def _q_x7_corpus_exact(spark, sf):
    """X7 — fully oracle-checked training-corpus pipeline, now a tagged
    union of the ONE-SHOT prep and its INCREMENTAL-MAINTENANCE sibling
    (r7 verdict #1):

    - `full`: the complete modern pretraining prep — exact dedup (md5
      fingerprint, keep min doc id) → near-dup removal (exact n-gram
      Jaccard pair graph → connected components, keep component min) →
      English-language gate → quality gate → repetition gate
      (duplicate-trigram ratio, X11) → train-split restriction +
      benchmark decontamination vs the eval split (X10).
    - `incr_b1`/`incr_b2`/`incr_corpus`: the daily-operations path —
      batch 1 is deduped and committed as the corpus + its persisted
      per-doc index, batch 2 is deduped AGAINST THAT INDEX (never
      rescanning batch-1 text; plan-asserted in
      tests/test_incremental.py), survivors are merge_upserted and
      their index rows appended; every doc's staged
      verdict plus the merged corpus membership (read back from disk)
      is value-checked.

    Every stage of both arms is SQL-expressible, so the whole
    composition is value-checked against one DuckDB statement (the
    MinHash probe/variant stays pytest-pinned because LSH sketches
    aren't).

    r13 (optimization round, guide §2.6): the two arms are fully
    independent chains of eager construction work — full: exact-dedup
    checkpoint → shingle-index checkpoint → CC rounds; incr: first
    commit write → index probe → commit write — that used to run
    sequentially (10.1 s build / 104 jobs of the row's 16.3 s profile
    at sf0.1). They now build concurrently so each chain's barrier
    tails back-fill the other's idle cores. Same frames, same rows."""
    return _union(_X7_ARMS, _Shared(spark, sf, {}), concurrent=True)


def _x7_full(s):
    """The one-shot pipeline arm of x7."""
    docs = s.t("documents")
    keep = (docs.select("doc_id", fingerprint("text").alias("__fp"))
            .groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    # The deduped frame feeds four consumers (index sizes, both self-join
    # sides, the final keep-join); checkpointing it collapses those to
    # one fingerprint-dedup pass. Measured sf0.1: cold 19.8s -> 5.7s,
    # warm 7.4s -> 5.3s together with the materialized shingle index.
    # r13: spread_checkpoint — AQE coalesced this join output to ONE
    # partition at sf0.1, serializing every downstream narrow gate
    # (language-id regexes, quality, repetition shingles, decontaminate
    # explode) onto one core; the scale-adaptive respread keeps the
    # leaf at session parallelism when (and only when) it is small.
    exact = spread_checkpoint(docs.join(keep, "doc_id"))
    pairs = ngram_jaccard_pairs(exact, "doc_id", "text", n=3, threshold=0.4,
                                materialize_index=True)
    nd = dedupe_by_components(exact, pairs, "doc_id")
    en = language_id(nd).filter(F.col("predicted_lang") == "en")
    gated = (en.withColumn("q_score", F.round(quality_score_expr("text"), 6))
             .filter(F.col("q_score") >= 0.5))
    # Repetition gate inline (same expressions as repetition_signals —
    # narrow, no join back on doc_id). r14 (guide §2.3/§4.2): the token
    # and shingle arrays are materialized once — the inline form
    # re-evaluated the whole shingle chain in each of dnr's three
    # references, and the split inside each of the chain's ~9 internal
    # references (~27 splits per row; fresh lambda ids defeat CSE).
    sh = F.col("__sh3")
    dnr = F.round(
        F.when(F.size(sh) > 0,
               1.0 - F.size(F.array_distinct(sh)).cast("double")
               / F.size(sh).cast("double"))
         .otherwise(F.lit(0.0)), 6)
    repg = (gated.withColumn("__t3", tokens("text"))
            .withColumn("__sh3", shingles_from_tokens("__t3", 3))
            .withColumn("__dnr", dnr).filter(F.col("__dnr") <= 0.5)
            .drop("__t3", "__sh3"))
    # train feeds TWO consumers inside decontaminate (the shingle probe
    # and the final flag join) and is deliberately NOT checkpointed:
    # its lineage below the gates is already checkpoint leaves (the
    # exact-dedup frame and the CC label map), so the duplicated segment
    # is cheap narrow work — measured A/B warm at sf0.01: 3.0s without
    # vs 3.4s with (the blocking materialization job costs more than the
    # recompute it saves; same verdict as the minhash/x7 notes above).
    # Re-A/B'd at sf0.1 for the r5 verdict's "cut x7's job count" ask
    # (interleaved min-of-3 on a noisy host): 9.2s without vs 9.8s with
    # — still no win. The other suggested cuts don't apply: the three
    # gates already fuse into ONE narrow stage (Catalyst pipelines the
    # chained filters — there is no per-gate job to eliminate), and
    # x2's checkpointed pair list is over a DIFFERENT input (full docs,
    # df-capped) so reusing it would change x7's semantics. x7 stays
    # checkpoint-barrier + CC-round bound: ~0.3s exact-dedup ckpt +
    # ~3.8s pair-gen/CC + ~6s gates/decontaminate compute, which
    # amortizes on a cluster (the barriers are fixed job overhead).
    train = repg.filter(F.col("doc_id") % 10 < 8)
    ev = docs.filter(F.col("doc_id") % 10 >= 8)
    out = decontaminate(train, ev, "doc_id", "text", n=5)
    return (out.filter(~F.col("contaminated"))
            .select(F.lit("full").alias("tag"), "doc_id", "q_score",
                    F.lit(None).cast("string").alias("reason")))


def _x7_incr(s):
    """The incremental-maintenance arms of x7 (tags incr_b1, incr_b2,
    incr_corpus): the daily-operations sibling of the one-shot
    pipeline. The corpus is built in TWO landings, each committed the
    same way: batch 1 is probed against no index — internal exact dedup
    only (within_batch="exact"; the within-batch pair-graph+CC stage is
    pytest-pinned and reuses x2's driver-verified machinery) — and its
    commit writes the corpus and creates the persisted index (fp +
    shingle-hash sets, the signal probe="exact" reads; the MinHash
    signal is pytest-pinned, tests/test_incremental.py); batch 2 probes
    THAT index (exact
    fingerprint hits, then exact-Jaccard near-dup hits vs indexed docs
    — corpus text never rescanned, plan-asserted in pytest), dedups
    internally at exact grain, and commit_batch merge_upserts the
    survivors + appends their index rows. Emitted: a verdict row per
    doc of each batch (reason or 'kept') and the final merged-corpus
    membership READ BACK FROM DISK, so a wrong stage verdict, a broken
    merge, or an index append that changed existing rows all
    hash-mismatch. The oracle states the staged semantics directly
    (first-batch-wins; each stage sees the prior stage's survivors) —
    the arrival-order contract of a landing pipeline (reference
    py:634-666: event-driven incremental, never full-recompute)."""
    import tempfile
    import uuid

    spark = s.spark
    _sweep_aged_tmp("sdp_incr_")
    base = tempfile.gettempdir() + f"/sdp_incr_{uuid.uuid4().hex[:8]}"
    # The incr arms run on the doc_id % 10 < 3 subset (30 % of the
    # corpus): the staged-semantics check needs two landings and every
    # stage verdict, not corpus bulk — and the row already pays for the
    # full-corpus one-shot arm above.
    docs = s.t("documents")
    b1 = docs.filter(F.col("doc_id") % 10 < 2)
    b2 = docs.filter(F.col("doc_id") % 10 == 2)
    # within_batch="exact": the driver arm verifies the NEW machinery —
    # the persisted-index probes (exact_index + neardup_index) and the
    # commit/merge/append path. The within-batch pair-graph + CC stage
    # (neardup_batch) reuses x2's driver-verified components machinery
    # and is pytest-pinned here (tests/test_incremental.py) — running it
    # per-arm would double the row's cost re-verifying what x2/x7-full
    # already verify on this same corpus every round.
    v1 = incremental_dedup(b1, None, probe="exact", threshold=0.5,
                           within_batch="exact")
    # cached, so the commit's two reads and the incr_b1 rows share one
    # execution of the batch-1 dedup
    v1.cache()
    commit_batch(spark, v1, base + "/corpus", base + "/index")
    idx = spark.read.parquet(base + "/index")
    v2 = incremental_dedup(b2, idx, probe="exact", threshold=0.5,
                           within_batch="exact")
    commit_batch(spark, v2, base + "/corpus", base + "/index")
    nq = F.lit(None).cast("double").alias("q_score")
    incr1 = v1.select(F.lit("incr_b1").alias("tag"), "doc_id", nq,
                      F.coalesce("drop_reason", F.lit("kept"))
                       .alias("reason"))
    incr2 = v2.select(F.lit("incr_b2").alias("tag"), "doc_id", nq,
                      F.coalesce("drop_reason", F.lit("kept"))
                       .alias("reason"))
    merged = (spark.read.parquet(base + "/corpus")
              .select(F.lit("incr_corpus").alias("tag"), "doc_id", nq,
                      F.lit(None).cast("string").alias("reason")))
    return incr1.unionAll(incr2).unionAll(merged)


_X7_ARMS = {"full": _x7_full, "incr": _x7_incr}


def _q_x8_corpus_utils(spark, sf):
    """X8 — the whole corpus-utility family in one tagged union (registry
    consolidation, r4 verdict): deterministic train/eval split (portable
    modulo mode; the xxhash64 production mode is pytest-pinned for
    uniformity) composed with the vocabulary build (top-200 tokens by
    frequency over the TRAIN split only — the tokenizer-training prep),
    sharded token-budget sequence packing (concat-then-chunk),
    overlapping character chunking (the retrieval/context-window prep),
    and — merged from the former x9_corpus_mix row (r6 consolidation) —
    X9 weighted corpus mixing: rebalance to a target language mixture
    (keep all rare-language docs, downsample the dominant ones) with a
    deterministic md5-ranked per-group quota, engine-portable by
    construction so the whole sampling decision stays value-checked.
    Columns harmonized to (kind, doc_id, a, b, c, h): vocab rows carry
    (NULL, n, NULL, NULL, token); pack rows carry (n_tokens, shard,
    bin_id, NULL); chunk rows carry (chunk_id, chunk_start, chunk_len,
    md5(chunk_text)) so the oracle value-checks the actual chunk
    contents, not just offsets; mix rows carry (sample_rank, NULL, NULL,
    lang); gsplit rows (NEW r6 — `leakage_safe_split`, the
    duplicate-group-keyed train/eval split that stops a doc and its
    copies straddling the boundary) carry (group_key, split_id, NULL,
    split), keyed by the exact-dup class's canonical min doc id in the
    portable modulo mode (the near-dup component_id mode is
    pytest-pinned); tmix rows (NEW r6 — `temperature_mix`, the
    alpha-sampling mixture rule of mC4/XLM-R: p_g ∝ (n_g/N)^0.3
    derived from the data instead of corpus_mix's explicit weights)
    carry (sample_rank, quota, NULL, lang); wmix rows (NEW r7 —
    `token_budget_mix`, temperature mixing in WEIGHT space: the quota
    is a token/char budget, not a doc count, so long-document groups
    can't be over-sampled mean-length-fold; first-fit-with-overshoot
    membership over exact integer running sums) carry (sample_rank,
    cum_weight, n_chars, lang); rep rows (NEW r7 —
    `repeat_by_epochs`, quality-weighted epoch repetition: the
    "head×3, middle×2, tail×1" upsampling convention with fractional
    epochs as md5-ranked deterministic membership — the registry map
    uses .5 fractions so frac·n stays float-exact cross-engine) carry
    (epoch, n_epochs, sample_rank, lang); shuf rows (NEW r7 —
    `global_shuffle`, the seeded training-order shuffle + shard
    layout: md5 sort key, hex-prefix shard assignment via the SAME
    `hex_prefix_long_sql` expression the oracle runs, per-shard
    row_number position — no global single-partition sort) carry
    (shard, pos, NULL, sort_key); sheet/sheet2 rows (NEW r7 —
    `corpus_datasheet`, the per-group dataset-card summary) carry one
    row-pair per language: sheet = (n_docs, total_tokens, mean-quality
    micro-units) and sheet2 = (n_distinct_fp, total_chars, exact-median
    token count micro-units), the mean accumulated in EXACT integer
    signal units so the value is partition-order-stable."""
    return _union(_X8_ARMS, _Shared(spark, sf, _X8_SHARED))


_X8_LAYOUT = (("doc_id", "long"), ("a", "long"), ("b", "long"),
              ("c", "long"), ("h", "string"))


def _x8_row(kind, df, doc_id="doc_id", **cols):
    """An x8 arm: doc-grain unless ``doc_id=None``."""
    return _slots(df, "kind", kind, _X8_LAYOUT, doc_id=doc_id, **cols)


def _long(c):
    return F.col(c).cast("long")


def _md5_ids(col):
    """md5 of an int array's comma-joined decimal rendering."""
    return F.md5(F.array_join(F.transform(col, lambda i: i.cast("string")),
                              ",").cast("binary"))


def _x8_vocab(s):
    split = train_test_split(s.docs, "doc_id", hashed=False)
    return _x8_row("vocab", vocabulary(split.filter(F.col("split") == "train"),
                                       "text", top_n=200),
                   doc_id=None, a=_long("n"), h="token")


# bins arm (r7): pack_bins next_fit — document-boundary-preserving
# (SFT-style) packing; the whole per-shard sequential bin assignment is
# value-checked against a DuckDB recursive-CTE replay of the same linear
# recursion (the FFD strategy is pytest-pinned: bin-capacity /
# completeness / never-more-bins-than-next-fit laws). h carries the r7
# s6 bin_offset (token start inside the padded bin, id-order layout) as
# a string — the attention-mask boundary metadata, value-checked
# alongside the assignment.
def _x8_pack(kind, packed, h=None):
    return _x8_row(kind, packed, a=_long("n_tokens"), b=_long("shard"),
                   c=_long("bin_id"), h=h)


def _x8_chunk(s):
    return _x8_row("chunk", chunk_documents(s.docs, "doc_id", "text",
                                            chunk_chars=512,
                                            overlap_chars=64),
                   a=_long("chunk_id"), b=_long("chunk_start"),
                   c=F.length("chunk_text").cast("long"),
                   h=F.md5(F.col("chunk_text").cast("binary")))


# sheet arms (r7): corpus_datasheet — the per-group dataset-card summary
# (volume, redundancy, median length, mean quality), split over two
# tagged rows per language to fit the union schema:
# sheet  -> (a=n_docs, b=total_tokens, c=mean_quality micro-units)
# sheet2 -> (a=n_distinct_fp, b=total_chars, c=p50_tokens micro)
def _x8_sheet(kind, sheet, a, b, c):
    return _x8_row(kind, sheet, doc_id=None, a=_long(a), b=_long(b),
                   c=F.round(F.col(c) * 1e6).cast("long"), h="lang")


def _x8_jac(s):
    # jac arm (r7): corpus-level EXACT resemblance between the even-id
    # and odd-id halves (corpus_jaccard — the dataset-versioning /
    # crawl-diff statistic): (a=|A∩B|, b=|A∪B|, c=jaccard micro-units,
    # h='|A|:|B|'). The MinHash estimate sibling is pytest-pinned
    # (corpus_jaccard_minhash — scan-only, the 100 TB path).
    docs = s.docs
    return _x8_row("jac", corpus_jaccard(
                       docs.filter(F.col("doc_id") % 2 == 0),
                       docs.filter(F.col("doc_id") % 2 == 1), "text"),
                   doc_id=None, a=_long("n_intersection"),
                   b=_long("n_union"),
                   c=F.round(F.col("jaccard") * 1e6).cast("long"),
                   h=F.concat(F.col("n_a").cast("string"), F.lit(":"),
                              F.col("n_b").cast("string")))


def _x8_diff(s):
    # diff arm (r7 s6): snapshot_diff — dataset-versioning changelog
    # between the corpus and a DERIVED snapshot B (docs %11==0 removed,
    # %7==0 edited, ids <20 re-added at +1000000) so all four states
    # occur; h carries the status, value-checked per doc
    docs = s.docs
    bsnap = (docs.filter(F.col("doc_id") % 11 != 0)
             .select("doc_id",
                     F.when(F.col("doc_id") % 7 == 0,
                            F.concat("text", F.lit(" edited v2")))
                     .otherwise(F.col("text")).alias("text"))
             .unionAll(docs.filter(F.col("doc_id") < 20)
                       .select((F.col("doc_id") + 1000000)
                               .alias("doc_id"), "text")))
    return _x8_row("diff", snapshot_diff(docs, bsnap, "doc_id", "text"),
                   h="status")


# tok/ids arms (r8; r9 OOV-hardened): the tokenizer LAST MILE — the
# committed BPE artifact (bpe_artifact.COMMITTED_MERGES, trained once and
# frozen like the X14 classifier weights) applied end-to-end over text
# with a PLANTED messy suffix (digits, money, bracket/punctuation runs,
# 2/3/4-byte UTF-8 — _X8_TOK_TEXT_SQL, the same derivation in both
# engines), with byte_fallback on:
#   tok -> per doc (a = n token ids incl. byte expansions,
#          b = round6 unk_rate in micro-units — the curator's OOV
#          dashboard metric, h = md5 of the space-joined subword
#          string) — value-checks the whole greedy encode + the
#          OOV accounting;
#   ids -> bpe_encode_ids token-id arrays (OOV symbols expand to
#          UTF-8 byte tokens — id 0 never appears) packed with
#          pack_bins over the REAL id counts (weight_col, not the
#          text-proxy count): per (shard=a, bin=b) row carries
#          c = bin token total and h = md5 of the comma-joined id
#          stream laid out in doc-id order — the actual
#          packed-pretraining artifact, value-checked byte-for-byte.
def _x8_encd(s):
    return (bpe_encode_ids(
                s.docs.select("doc_id", "lang",
                              F.expr(_X8_TOK_TEXT_SQL).alias("text")),
                "text", COMMITTED_MERGES, build_vocab(),
                sym_col="bpe_sym", byte_fallback=True,
                unk_col="unk_rate")
            .localCheckpoint(eager=False))


def _x8_ids(s):
    # The idstr join back onto the bin assignment is broadcast here
    # (registry scale); at 100 TB both sides hash-partition on doc_id.
    withids = s.encd.select(
        "doc_id",
        F.array_join(F.transform("token_ids",
                                 lambda i: i.cast("string")),
                     ",").alias("idstr"),
        F.size("token_ids").cast("long").alias("ntok"))
    binned = pack_bins(withids, "doc_id", None, budget=1024,
                       n_shards=8, weight_col="ntok")
    return _x8_row(
        "ids", (F.broadcast(binned).join(withids.select("doc_id", "idstr"),
                                         "doc_id")
                .groupBy("shard", "bin_id")
                .agg(F.sum("n_tokens").alias("c"),
                     F.md5(F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(
                                 F.struct("doc_id", "idstr"))),
                             lambda x: x["idstr"]), ",").cast("binary"))
                     .alias("h"))),
        doc_id=None, a=_long("shard"), b=_long("bin_id"), c=_long("c"),
        h="h")


# blk arm (r10): pack_token_blocks — the MATERIALIZED packed pretraining
# blocks over the same id streams: per-shard concat (doc-id order) with
# the reserved EOS id appended per doc, chunked every _X8_BLK_LEN ids,
# trailing partial block dropped. Per (shard=a, block=b) row: c = number
# of contributing doc spans, h = md5 of the comma-joined EXACT block ids
# — so every block boundary, every EOS position, and the whole packed
# stream are value-checked against a token-grain DuckDB replay. The ids
# arm checks the bin NUMBERS; this checks the artifact itself.
def _x8_blocks(kind, blocks):
    return _x8_row(kind, blocks, doc_id=None, a=_long("shard"),
                   b=_long("block_id"),
                   c=F.size("doc_spans").cast("long"), h=_md5_ids("ids"))


def _x8_pos(s):
    # pos arm (r11): block_positions — the per-block position_ids (reset
    # at each doc-span start) and sequence_ids (span ordinal) a
    # block-diagonal-attention trainer consumes; pure span arithmetic,
    # so the oracle replays BOTH arrays at token grain from its own
    # stream positions. h = md5(positions '|' seqids).
    return _x8_row("pos", block_positions(s.blkraw), doc_id=None,
                   a=_long("shard"), b=_long("block_id"),
                   h=F.md5(F.concat(
                       F.array_join(F.transform(
                           "position_ids",
                           lambda i: i.cast("string")), ","),
                       F.lit("|"),
                       F.array_join(F.transform(
                           "sequence_ids",
                           lambda i: i.cast("string")), ","))
                       .cast("binary")))


def _x8_lmask(s):
    # lmask arm (r12): block_loss_mask — the SFT label flags (prompt
    # tokens 0, completion+EOS 1, flag gated on the WITHIN-DOC offset
    # so a doc crossing a block boundary keeps counting). Prompt
    # lengths are the planted closed form doc_id % 7 for doc_id % 3
    # != 0 and NULL otherwise (the fully-trainable pretraining-doc
    # path). Pure span arithmetic, so the oracle replays every flag
    # at token grain: flag = (pos - doc_start) >= plen. c = trainable
    # tokens per block, h = md5 of the comma-joined flags.
    prompts = s.docs.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(3)) != 0,
               F.pmod("doc_id", F.lit(7))).alias("prompt_len"))
    return _x8_row("lmask", block_loss_mask(s.blkraw, prompts, "doc_id",
                                            "prompt_len"),
                   doc_id=None, a=_long("shard"), b=_long("block_id"),
                   c=F.expr("aggregate(loss_mask, 0L, (s, x) -> s + x)"),
                   h=_md5_ids("loss_mask"))


def _x8_rblk(s):
    # rblk arm (r10): the INCREMENTAL packing path, driver-oracled —
    # pack the low-id half as the prior state, resume with the high-id
    # half (the append-only batch contract), and emit non-tail state +
    # resume output. By the resume==full-repack law the merged rows must
    # equal pack(all, drop_last=False), so the oracle is the SAME
    # token-grain blkg replay WITHOUT the drop-last filter — the whole
    # incremental merge value-checked cross-engine, partial tails
    # included. The id-half split is one tiny max(doc_id) aggregate
    # (control-plane).
    encd = s.encd
    half = (s.docs.agg(F.max("doc_id")).first()[0] or 0) // 2
    rstate = pack_token_blocks(
        encd.filter(F.col("doc_id") < half)
        .select("doc_id", "token_ids"),
        "doc_id", "token_ids", block_len=_X8_BLK_LEN,
        eos_id=_BPE_EOS_ID, n_shards=8,
        drop_last=False).localCheckpoint(eager=False)
    rout = resume_token_blocks(
        rstate, encd.filter(F.col("doc_id") >= half)
        .select("doc_id", "token_ids"),
        "doc_id", "token_ids", block_len=_X8_BLK_LEN,
        eos_id=_BPE_EOS_ID, n_shards=8)
    rtails = rstate.groupBy("shard").agg(F.max("block_id").alias("tb"))
    rkeep = (rstate.join(F.broadcast(rtails), "shard")
             .filter(F.col("block_id") < F.col("tb")).drop("tb"))
    return _x8_blocks("rblk", rkeep.unionByName(rout))


# fert arm (r10): tokenizer_fertility — the per-language
# compression/fertility dashboard over the SAME encode (one more tiny
# aggregate off the checkpointed encd, no new scan): per lang a = total
# token ids, b = total UTF-8 bytes of the input text, c = round6
# chars-per-token in micro-units (the "is this script degenerating to
# byte fallback" signal), h = lang.
def _x8_fert(s):
    return _x8_row("fert", tokenizer_fertility(s.encd, "text", "token_ids",
                                               group_col="lang"),
                   doc_id=None, a=_long("total_tokens"),
                   b=_long("total_bytes"),
                   c=F.round(F.col("chars_per_token") * 1000000)
                   .cast("long"), h="lang")


# rtok arm (r10 — raw-text tokenizer fidelity): the LOSSLESS byte-level
# mode over text with planted mixed case, tabs, newlines and whitespace
# runs (_X8_RAW_TEXT_SQL, derived identically in both engines). Per doc:
#   a = n token ids (whitespace/uppercase symbols byte-expand),
#   b = the EXACT-RAW ROUND-TRIP LAW — 1 iff bpe_decode_ids(raw=True)
#       reproduces the raw input byte-for-byte (the oracle emits
#       constant 1, so the value check FAILS if any doc's round trip
#       breaks),
#   c = round6 byte-escape rate in micro-units,
#   h = md5 of the comma-joined id stream, independently replayed by the
#       oracle's raw merge recursion (no END marker, case preserved,
#       explicit whitespace byte tokens).
# Narrow from encode to union — no new exchange.
# atok arm (r10): the RAW-SERVICE artifact — RAW_COMMITTED_MERGES trained
# case-preserved with ATTACHED-whitespace pretokens (the GPT-2 vocab
# shape: space-prefixed merges like ' s'), over the SAME planted raw
# text. Same columns as rtok; the exact-raw round-trip law must hold
# here too, and the id streams are ~14% shorter than rtok's (space
# tokens fold into words) — directly visible in the two arms' a columns.
# btok arm (r11): GPT-2-style byte-level BPE over the SAME planted raw
# text: attached pretokens remapped to printable BYTE symbols
# (bytes_to_unicode), merges over bytes from the committed byte-level
# artifact, 256-symbol base covering every input. No UNK and no escape
# inventory exist, so:
#   a = n token ids,
#   b = the exact round-trip flag (decode must equal the raw input
#       byte-for-byte; the oracle requires 1),
#   c = the unk/escape rate in micro-units — IDENTICALLY 0 by
#       construction (the oracle emits constant 0, so a single
#       escape/UNK anywhere value-fails the arm),
#   h = md5 of the comma-joined id stream, replayed by the oracle's
#       arithmetic byte-remap + rank recursion.
def _x8_round_trip(s, kind, merges, vocab, encode, decode):
    enc = bpe_encode_ids(
        s.docs.select("doc_id", F.expr(_X8_RAW_TEXT_SQL).alias("text")),
        "text", merges, vocab, unk_col="unk_rate", **encode)
    return _x8_row(kind, bpe_decode_ids(enc, "token_ids", vocab,
                                        out_col="__rt", **decode),
                   a=F.size("token_ids").cast("long"),
                   b=F.when(F.col("text").isNull(), F.lit(1).cast("long"))
                   .otherwise((F.col("__rt") == F.col("text"))
                              .cast("long")),
                   c=F.round(F.col("unk_rate") * 1000000).cast("long"),
                   h=_md5_ids("token_ids"))


_X8_SHARED = {
    "docs": lambda s: s.t("documents"),
    "sheet": lambda s: corpus_datasheet(s.docs, "lang"),
    "encd": _x8_encd,
    "blkraw": lambda s: (pack_token_blocks(
        s.encd.select("doc_id", "token_ids"), "doc_id", "token_ids",
        block_len=_X8_BLK_LEN, eos_id=_BPE_EOS_ID, n_shards=8)
        .localCheckpoint(eager=False)),
}
_X8_ARMS = {
    "vocab": _x8_vocab,
    "pack": lambda s: _x8_pack("pack", pack_sequences(
        s.docs, "doc_id", "text", budget=512, n_shards=8)),
    "bins": lambda s: _x8_pack(
        "bins", pack_bins(s.docs, "doc_id", "text", budget=512, n_shards=8),
        h=F.col("bin_offset").cast("string")),
    "chunk": _x8_chunk,
    "mix": lambda s: _x8_row(
        "mix", corpus_mix(s.docs, "lang", "doc_id",
                          {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0,
                           "zh": 0.5}),
        a=_long("sample_rank"), h="lang"),
    "gsplit": lambda s: _x8_row(
        "gsplit", leakage_safe_split(s.docs, "doc_id", text_col="text",
                                     hashed=False),
        a=_long("group_key"), b=_long("split_id"), h="split"),
    "tmix": lambda s: _x8_row(
        "tmix", temperature_mix(s.docs, "lang", "doc_id", alpha=0.3),
        a=_long("sample_rank"), b=_long("quota"), h="lang"),
    "shuf": lambda s: _x8_row(
        "shuf", global_shuffle(s.docs, "doc_id", seed=0, num_shards=8),
        a=_long("shard"), b=_long("pos"), h="sort_key"),
    "wmix": lambda s: _x8_row(
        "wmix", token_budget_mix(s.docs, "lang", "doc_id", "n_chars",
                                 alpha=0.3),
        a=_long("sample_rank"), b=_long("cum_weight"), c=_long("n_chars"),
        h="lang"),
    "rep": lambda s: _x8_row(
        "rep", repeat_by_epochs(s.docs, "lang", "doc_id",
                                {"en": 1.5, "de": 2.0, "zh": 0.0}),
        a=_long("epoch"), b=_long("n_epochs"), c=_long("sample_rank"),
        h="lang"),
    "sheet": lambda s: _x8_sheet("sheet", s.sheet, "n_docs",
                                 "total_tokens", "mean_quality"),
    "sheet2": lambda s: _x8_sheet("sheet2", s.sheet, "n_distinct_fp",
                                  "total_chars", "p50_tokens"),
    "jac": _x8_jac,
    "diff": _x8_diff,
    "tok": lambda s: _x8_row(
        "tok", s.encd, a=F.size("token_ids").cast("long"),
        b=F.round(F.col("unk_rate") * 1000000).cast("long"),
        h=F.md5(F.array_join("bpe_sym", " ").cast("binary"))),
    "ids": _x8_ids,
    "blk": lambda s: _x8_blocks("blk", s.blkraw),
    "pos": _x8_pos,
    "lmask": _x8_lmask,
    # eshuf arm (r11): reshuffle_blocks — the per-epoch deterministic
    # block reorder WITHOUT repacking (seed 1, epoch 2, 4 training
    # shards). The oracle recomputes the md5 epoch key and the SAME
    # hex-prefix shard expression, then replays the per-shard
    # row_number — every (train_shard, pos) value-checked.
    "eshuf": lambda s: _x8_row(
        "eshuf", reshuffle_blocks(s.blkraw, seed=1, epoch=2, num_shards=4),
        doc_id=None, a=_long("shard"), b=_long("block_id"),
        c=_long("train_shard"), h=F.col("pos").cast("string")),
    "rblk": _x8_rblk,
    "fert": _x8_fert,
    "rtok": lambda s: _x8_round_trip(
        s, "rtok", COMMITTED_MERGES, build_vocab(),
        dict(byte_fallback=True, raw=True), dict(raw=True)),
    "atok": lambda s: _x8_round_trip(
        s, "atok", RAW_COMMITTED_MERGES,
        build_vocab(RAW_COMMITTED_MERGES, BPE_RAW_BASE_CHARS),
        dict(byte_fallback=True, raw=True, attach_ws=True), dict(raw=True)),
    "btok": lambda s: _x8_round_trip(
        s, "btok", BYTE_LEVEL_COMMITTED_MERGES, build_byte_level_vocab(),
        dict(byte_level=True), dict(byte_level=True)),
}


def _q_x10_decontaminate(spark, sf):
    """X10 — benchmark decontamination, BOTH execution strategies in one
    tagged union (r6): `exact` broadcasts the eval split's distinct
    shingle strings and semi-joins (the default when the held-out set
    broadcasts comfortably); `bloom` broadcasts a fixed 2^28-bit Bloom
    bitmap instead (`bloom_decontaminate` — the 100 TB shape when the
    eval shingle frame outgrows a raw broadcast: ~an order of magnitude
    smaller, size chosen up front). Train never shuffles on either path
    (plan-asserted). Both flag train-split docs sharing >= 1 distinct
    word 5-gram with any eval-split doc (train/eval from the portable
    deterministic split, X8).

    Third arm `report` (r7): `contamination_report` — the audit sibling
    (GPT-3 appendix-C-style overlap study): for every contaminated doc,
    the overlap FRACTION (n_overlap / distinct n-grams in the doc) and
    the attribution (top_eval_id = the eval doc sharing the most
    distinct n-grams, ties -> smallest id, with that pairwise count) —
    the columns a data curator uses to pick flag-vs-drop thresholds
    and trace leaks to their benchmark source. The gate tags carry
    NULLs in the report-only columns.

    Oracle: ONE DuckDB shingle-semi-join emitted under both tags — the
    Bloom arm is value-checked against EXACT semantics, which is valid
    because Bloom error is one-sided (never false-negative) and the
    false-positive expectation at the registry sizing on the frozen
    fixtures is ~2e-8 (m=2^28, k=4, ~4e4 eval shingles, ~2e5 probes at
    sf0.1); verified zero empirically at sf0.001/0.01/0.1, and the
    fixtures plus fixed hash seeds make that exactness deterministic,
    not a per-run gamble."""
    return _union(_X10_ARMS, _Shared(spark, sf, _X10_SHARED))


_X10_LAYOUT = (("doc_id", "long"), ("n_overlap", "long"),
               ("contaminated", "boolean"), ("n_total", "long"),
               ("frac_overlap", "double"), ("top_eval_id", "long"),
               ("top_eval_overlap", "long"))


def _x10_gate(s, tag, gate):
    # report-only columns, NULL under the gate tags
    return _slots(gate(s.train, s.ev, "doc_id", "text", n=5), "tag", tag,
                  _X10_LAYOUT, doc_id="doc_id", n_overlap=_long("n_overlap"),
                  contaminated="contaminated")


def _x10_report(s):
    return _slots(contamination_report(s.train, s.ev, "doc_id", "text", n=5),
                  "tag", "report", _X10_LAYOUT, doc_id="doc_id",
                  n_overlap=_long("n_overlap"), contaminated=F.lit(True),
                  n_total=_long("n_total"), frac_overlap="frac_overlap",
                  top_eval_id=_long("top_eval_id"),
                  top_eval_overlap=_long("top_eval_overlap"))


_X10_SHARED = {
    "split": lambda s: train_test_split(s.t("documents"), "doc_id",
                                        hashed=False),
    "train": lambda s: s.split.filter(F.col("split") == "train"),
    "ev": lambda s: s.split.filter(F.col("split") == "eval"),
}
_X10_ARMS = {
    "exact": lambda s: _x10_gate(s, "exact", decontaminate),
    "bloom": lambda s: _x10_gate(s, "bloom", bloom_decontaminate),
    "report": _x10_report,
}


def _q_x11_text_hygiene(spark, sf):
    """X11 — corpus hygiene in one doc-grain pass: intra-document
    repetition signals (duplicate-token / duplicate-3-gram ratios, the
    Gopher-style boilerplate filters) joined with PII-style redaction
    counts + the md5 of the redacted text, plus (r7) BOTH canonical
    public page-cleaning recipes over a derived multi-line page:

    - `c4_*`: C4 line-level cleaning (Raffel et al. 2020 §2.2) — kept/
      dropped line counts, the lorem-ipsum/curly-brace doc drop, and
      the md5 of the cleaned page;
    - `g_*`: the Gopher rule gate (Rae et al. 2021 §A1.1) — word-count
      / mean-word-length / symbol-ratio / bullet-line / ellipsis-line /
      alpha-word / stop-word rules and the AND-of-all keep decision.

    The redaction runs on a deterministic PII-bearing column and the
    page recipes on a deterministic multi-line page (kept line, a
    javascript warning, a too-short line, a bullet line, an ellipsis
    line, plus lorem-ipsum / code lines keyed on doc_id % 7 / % 11) —
    the fixtures themselves contain no emails, newlines or braces.
    Both derived columns are built identically in the oracle, so every
    count, ratio, gate and output fingerprint is value-checked.

    r7 adds the `lex_*` columns: lexicon/blocklist category tagging
    (`lexicon_tag` — the RefinedWeb curated-wordlist gate) with two
    topic lexicons plus a blocked list over the fixture vocabulary;
    per-category hit counts, the dominant-category tag and the blocked
    flag are all value-checked (an entirely narrow projection — no
    join, no shuffle added to the row)."""
    return reduce(lambda a, b: a.join(b, "doc_id"),
                  _build(_X11_ARMS, _Shared(spark, sf, _X11_SHARED)))


# The committed x11 lexicons (fixture-vocabulary topic lists + a block
# list) — module-level so the Spark arm and the DuckDB oracle read the
# same constant.
_X11_LEXICONS = {
    "storage": ["table", "row", "scan", "part"],
    "compute": ["spark", "batch", "merge", "sort", "hash"],
    "banned": ["slow"],
}


def _x11_redact(s):
    docs = s.docs
    pii_text = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com ref "),
        (F.col("doc_id") * 7919 + 100003).cast("string"))
    red = redact_pii(docs.select("doc_id", pii_text.alias("text")))
    return red.select("doc_id",
                      F.col("n_email").cast("long"),
                      F.col("n_digit_run").cast("long"),
                      F.col("n_redactions").cast("long"),
                      F.md5(F.col("redacted_text").cast("binary"))
                      .alias("redacted_fp"))


def _x11_pages(s):
    """The derived deterministic multi-line page the C4 and Gopher
    recipes read."""
    # r14: split once into a column — the page template references the
    # token array four times (each inline reference re-ran the split).
    toks = F.col("__t")
    page = F.concat_ws(
        "\n",
        F.concat(F.array_join(F.slice(toks, 1, 8), " "), F.lit(".")),
        F.lit("please enable javascript to view this page."),
        F.array_join(F.slice(toks, 3, 3), " "),
        F.concat(F.lit("* "), F.array_join(F.slice(toks, 2, 6), " "),
                 F.lit("!")),
        F.concat(F.array_join(F.slice(toks, 5, 4), " "), F.lit("...")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("lorem ipsum dolor sit amet.")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("var f = function() { return 1; }")))
    return (s.docs.select("doc_id", tokens("text").alias("__t"))
            .select("doc_id", page.alias("text")))


def _x11_c4(s):
    return c4_clean(s.pages, min_words_per_line=4).select(
        "doc_id",
        F.col("n_lines").alias("c4_n_lines"),
        F.col("kept_lines").alias("c4_kept_lines"),
        F.col("dropped_lines").alias("c4_dropped_lines"),
        F.col("doc_dropped").alias("c4_doc_dropped"),
        F.md5(F.col("clean_text").cast("binary")).alias("c4_fp"))


def _x11_lex(s):
    return lexicon_tag(s.docs, "text", _X11_LEXICONS,
                       block_categories=("banned",), min_hits=2).select(
        "doc_id", "lex_banned", "lex_compute", "lex_storage",
        "lex_top", "lex_blocked")


_X11_SHARED = {"docs": lambda s: s.t("documents"), "pages": _x11_pages}
# a join row, not a union: the arms are the doc_id join inputs, in join
# order
_X11_ARMS = {
    "rep": lambda s: repetition_signals(s.docs, "doc_id", "text", ngram_n=3),
    "redact": _x11_redact,
    "c4": _x11_c4,
    "gopher": lambda s: gopher_rules(s.pages, min_words=25, min_stop_hits=2),
    "lex": _x11_lex,
}


def _q_x13_lm_score(spark, sf):
    """X13 + X14 — both model-based quality scores in one tagged union:

    - `lm`: CCNet-style statistical LM scoring — add-k bigram LM trained
      on the corpus itself, each doc scored by the quantized mean log2
      P(w_i | w_{i-1}); low scorers are gibberish/boilerplate candidates
      (n = bigram count; docs with < 2 tokens have no bigram evidence).
    - `fasttext` (r7, verdict #5): learned-classifier scoring — a
      fastText-style linear model over hashed bag-of-token features
      with FIXED committed weights (default_quality_weights),
      p = sigmoid(mean token-bucket weight). One narrow projection, no
      shuffle; the logit accumulates in exact micro-unit integers so
      the score is bit-identical in the DuckDB oracle (n = token
      count; every doc scores, empty docs score sigmoid(bias)).
    - `bucket_*` (r7): `quantile_buckets` — the CCNet head/middle/tail
      cut applied IN-PLAN to the lm scores (bottom quartile tail, top
      quartile head): exact interpolated quartiles computed as ONE
      aggregate row broadcast back onto the corpus — no driver
      approxQuantile round trip, no global ntile window. Thresholds
      rounded to 6 decimals (round_scale) so the classification is
      engine-portable; the bucket rides the tag (`bucket_tail` /
      `bucket_middle` / `bucket_head`).
    - `lbucket_*` (r7 s6): the same cut PER LANGUAGE
      (`quantile_buckets(by="lang")` — CCNet cuts perplexity
      percentiles per language): one threshold row per lang broadcast
      back; tag = lbucket_<lang>_<bucket>, so every doc's per-language
      classification is value-checked."""
    return _union(_X13_ARMS, _Shared(spark, sf, _X13_SHARED))


def _x13_row(df, tag, score="lm_logp", n=None):
    return _slots(df, "tag", tag, (("doc_id", "long"), ("n", "long"),
                                   ("score", "double")),
                  doc_id="doc_id", n=n, score=score)


def _x13_fasttext(s):
    return _x13_row(classifier_quality_score(
                        s.docs, "doc_id", "text",
                        weights=default_quality_weights()),
                    F.lit("fasttext"), "q_prob", F.col("n_tokens"))


def _x13_lbucket(s):
    # lbucket arm (r7 s6): the SAME cut PER LANGUAGE via
    # quantile_buckets(by=...) — the actual CCNet discipline
    # (per-language perplexity percentiles, so a low-resource
    # language isn't wholesale tail-bucketed by the others' range)
    # NULL-lang docs are excluded from the ARM (the oracle's inner join
    # drops them and Spark's concat would NULL the tag) — the operator
    # itself preserves NULL groups, pinned by pytest
    return _x13_row(stages.quantile_buckets(
                        s.scored.join(s.docs.select("doc_id", "lang"),
                                      "doc_id"),
                        "lm_logp", round_scale=6, by="lang")
                    .filter(F.col("lang").isNotNull()),
                    F.concat(F.lit("lbucket_"), F.col("lang"),
                             F.lit("_"), F.col("bucket")))


def _x13_dsir(s):
    # dsir arm (r7 session 5): DSIR domain-targeted selection — weight =
    # log-ratio of the en-subcorpus-trained LM vs the self-trained LM,
    # keep = top keep_frac by in-plan percentile threshold; the WHOLE
    # decision (weight + kept flag, riding the tag) is value-checked
    docs = s.docs
    return _x13_row(dsir_select(docs, docs.filter(F.col("lang") == "en"),
                                "doc_id", "text", keep_frac=0.25,
                                self_lm=s.scored)
                    .filter(F.col("dsir_weight").isNotNull()),
                    F.concat(F.lit("dsir_"),
                             F.when(F.col("dsir_kept"), F.lit("keep"))
                             .otherwise(F.lit("drop"))), "dsir_weight")


_X13_SHARED = {
    "docs": lambda s: s.t("documents"),
    # `scored` feeds FOUR arms (lm, bucket, lbucket, dsir's self-model
    # via self_lm=). Deliberately NOT checkpointed: A/B at sf0.1
    # (interleaved, warm) read 6.45/6.68 s without vs 7.01/6.64 s with
    # — the LM rebuild below the union is cheap narrow work and the
    # blocking materialization job costs what it saves (same verdict
    # as x7's train-checkpoint note).
    "scored": lambda s: lm_score(s.docs, "doc_id", "text"),
}
_X13_ARMS = {
    "lm": lambda s: _x13_row(s.scored, F.lit("lm"),
                             n=F.col("n_bigrams").cast("long")),
    "fasttext": _x13_fasttext,
    "bucket": lambda s: _x13_row(
        stages.quantile_buckets(s.scored, "lm_logp", round_scale=6),
        F.concat(F.lit("bucket_"), F.col("bucket"))),
    "dsir": _x13_dsir,
    "lbucket": _x13_lbucket,
}


def _q_x12_segment_dedup(spark, sf):
    """X12 — sub-document exact dedup, both grains in one tagged union.
    `segment`: CCNet-style fixed-boundary dedup (10-word segments,
    corpus-wide first occurrence survives, docs rebuilt in order).
    `passage`: ExactSubstr-style sliding-window dedup (Lee et al. 2022)
    — an 8-token window with stride 1, so a duplicated run is excised at
    ANY alignment, including the boundary-straddling copies the fixed
    grain misses. Rebuilt text is md5-checked against the oracle for
    both variants; n_units is segments vs tokens respectively.
    `dupfrac` (r7): the cross-document duplicated-5-gram fraction
    (Lee et al. 2022 §5 corpus-health metric, `duplicate_ngram_fraction`)
    — n_units carries each doc's distinct-5-gram count, n_kept the
    shared-with-another-doc count, so the round-6 fraction is fully
    determined by the value-checked pair.
    `dupfcap` (r8): the same metric under the hot-shingle lever
    `max_doc_freq=2` — shingles in MORE than 2 docs are treated as
    corpus boilerplate and excluded from both counts (the documented
    approximation, applied identically in the oracle; the fixture's
    doc-frequency tail reaches 3-4, so the exclusion path is actually
    exercised at every scale factor)."""
    return _union(_X12_ARMS, _Shared(spark, sf, _X12_SHARED))


def _x12_row(variant, df, n_units, n_kept, text_fp=None):
    return _slots(df, "variant", variant,
                  (("doc_id", "long"), ("text_fp", "string"),
                   ("n_units", "int"), ("n_kept", "int")),
                  doc_id="doc_id", text_fp=text_fp,
                  n_units=n_units.cast("int"), n_kept=n_kept.cast("int"))


def _x12_dupboth(s):
    # ONE shingle pipeline serves BOTH report variants (emit_exact):
    # the exact and capped counts are conditional counts over the same
    # joined rows, so dupfrac + dupfcap cost one pass, not two
    return (duplicate_ngram_fraction(s.docs, "doc_id", "text", n=5,
                                     max_doc_freq=2, emit_exact=True)
            .localCheckpoint(eager=False))


_X12_SHARED = {"docs": lambda s: s.t("documents"), "dupboth": _x12_dupboth}
_X12_ARMS = {
    "segment": lambda s: _x12_row(
        "segment", segment_dedup(s.docs, "doc_id", "text", segment_words=10),
        F.col("n_segments"), F.col("n_kept"), F.md5("text")),
    "passage": lambda s: _x12_row(
        "passage", passage_dedup(s.docs, "doc_id", "text", k=8),
        F.col("n_tokens"), F.col("n_tokens") - F.col("n_removed"),
        F.md5("text")),
    "dupfrac": lambda s: _x12_row("dupfrac", s.dupboth,
                                  F.col("n_ngrams_exact"),
                                  F.col("dup_ngrams_exact")),
    "dupfcap": lambda s: _x12_row("dupfcap", s.dupboth, F.col("n_ngrams"),
                                  F.col("dup_ngrams")),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    g = globals()
    return {name[len("_q_"):]: g[name]
            for name in sorted(g) if name.startswith("_q_")}


# row -> (shared-intermediate makers, arm table), for every row built
# from an arm table
ARM_TABLES = {
    "t5_quality_score": (_T5_SHARED, _T5_ARMS),
    "x2_dedup_clusters": (_X2_SHARED, _X2_ARMS),
    "x3_topk_similarity": (_X3_SHARED, _X3_ARMS),
    "x4_pq_exact": (_X4_SHARED, _X4_ARMS),
    "x5_text_signals": (_X5_SHARED, _X5_ARMS),
    "x6_multimodal": ({}, _X6_ARMS),
    "x7_corpus_exact": ({}, _X7_ARMS),
    "x8_corpus_utils": (_X8_SHARED, _X8_ARMS),
    "x10_decontaminate": (_X10_SHARED, _X10_ARMS),
    "x11_text_hygiene": (_X11_SHARED, _X11_ARMS),
    "x12_segment_dedup": (_X12_SHARED, _X12_ARMS),
    "x13_lm_score": (_X13_SHARED, _X13_ARMS),
    "x_approx_suite": (_XA_SHARED, _XA_ARMS),
}

# The arms bench.py attributes, per row (x_approx: all of them).
_BENCH_ARMS = {
    "x_approx_suite": tuple(_XA_ARMS),
    "x2_dedup_clusters": ("pairs", "label", "star", "pagerank", "url",
                          "hostrank", "hostrankd", "hquota", "hquotaq"),
    "x12_segment_dedup": ("segment", "passage", "dupfrac"),
    "x7_corpus_exact": ("full", "incr"),
    "x10_decontaminate": ("report",),
    "x13_lm_score": ("bucket", "dsir", "lbucket"),
    "x11_text_hygiene": ("c4", "gopher", "lex"),
    "x8_corpus_utils": ("bins", "tok", "rtok", "atok", "blk", "fert",
                        "pos", "eshuf", "btok", "lmask"),
    "x3_topk_similarity": ("rp", "cbal", "hardneg"),
    "x5_text_signals": ("entropy",),
    "t5_quality_score": ("drift",),
    "x6_multimodal": ("img", "vid"),
    "x4_pq_exact": tuple(_X4_ARMS),
}


def arm_query(row: str, arm: str, spark: SparkSession, sf: str) -> DataFrame:
    """One arm of ``row`` built alone, from a fresh call's intermediates."""
    makers, arms = ARM_TABLES[row]
    return arms[arm](_Shared(spark, sf, makers))


def bench_subqueries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Per-arm breakdown of composite headline rows, so bench.py can
    attribute a row's wall-clock to its arms round over round. Each entry
    builds exactly the arm its row unions (and the oracle checks). NOT
    part of the `queries()` registry (no leading `_q_`)."""
    return {f"{row}.{arm}": partial(arm_query, row, arm)
            for row, arms in _BENCH_ARMS.items() for arm in arms}


# ======================================================== oracle SQL ====

_TOKENS_SQL = ("list_filter(regexp_split_to_array(trim({c}), '\\s+'), "
               "x -> x <> '')")

# PII regexes — byte-identical to operators/text.py PII_PATTERNS (the same
# pattern text is valid Java regex and DuckDB RE2).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_DIGIT_RE = r"[0-9]{4,}"

# Distinct word 5-gram shingles of a token-list column {t} (DuckDB),
# matching functions/text.py shingles_from_tokens(n=5) semantics:
# shorter-than-5 lists degrade to one whole-text shingle; empties dropped.
_SHINGLE5_SQL = (
    "list_distinct(CASE WHEN len({t}) < 5"
    "     THEN [array_to_string({t}, ' ')]"
    "     ELSE list_transform(range(1, len({t}) - 3),"
    "              i -> array_to_string({t}[i:i+4], ' '))"
    " END)")
_STOPWORDS_SQL = "['the','a','an','of','to','in','and','is','it','for']"

# x8 shuf arm: the shard expression is the SAME SQL string the Spark
# operator evaluates (hex_prefix_long_sql), so shard assignment parity
# is by construction, not by re-derivation.
from serverless_data_pipeline_spark.operators.corpus import (  # noqa: E402
    hex_prefix_long_sql as _hexlong,
)
_SHUF_SHARD_SQL = _hexlong("k", 8)

# x8 tok/ids arms (r8): the oracle replays BPE encoding from the SAME
# committed artifact constants the Spark operator ships (parity by
# construction). Per-word replay applies merges one rank at a time —
# equivalent to the canonical earliest-rank rescan because the
# committed list passes assert_rank_sequential_ok (see bpe_artifact).
# Symbols are sentinel-wrapped (chr(1) sym chr(2)) and space-joined so
# a merge's string replace can only fire on exact whole-symbol
# adjacency, never inside a symbol or across a suffix/prefix seam.
from serverless_data_pipeline_spark.operators.bpe_artifact import (  # noqa: E402,E501
    COMMITTED_MERGES as _BPE_MERGES,
    build_vocab as _bpe_build_vocab,
)


def _bpe_wrap_sql(tok: str) -> str:
    return f"chr(1) || '{tok}' || chr(2)"


def _sq(s: str) -> str:
    """Escape a token for a single-quoted standard-SQL literal (the r9
    base alphabet includes the apostrophe; backslash is literal in
    standard strings)."""
    return s.replace("'", "''")


_BPE_NM = len(_BPE_MERGES)
_BPE_MERGES_SQL = "VALUES " + ", ".join(
    f"({i}, {_bpe_wrap_sql(l)} || ' ' || {_bpe_wrap_sql(r)}, "
    f"{_bpe_wrap_sql(l + r)})"
    for i, (l, r) in enumerate(_BPE_MERGES))
_BPE_VOCAB_SQL = "VALUES " + ", ".join(
    f"('{_sq(t)}', {i})" for t, i in _bpe_build_vocab().items())
_BPE_BYTE_BASE = _bpe_build_vocab()["<0x00>"]


def _bpe_fallback_idstr_duckdb(tok: str,
                               byte_base: int | None = None) -> str:
    """The byte-fallback expansion of ONE out-of-vocab symbol as a
    comma-joined id string, RE2/DuckDB rendering: hex(encode(tok)) is
    the symbol's UTF-8 bytes as hex pairs, and each pair maps to
    byte_base + its value via base-16 strpos arithmetic — no join, no
    byte-token VALUES table. The Spark operator computes the same ids
    through a 256-entry hex-pair map literal; the two renderings are
    pinned id-for-id over a unicode zoo in
    tests/test_bpe.py::test_byte_fallback_oracle_fragment_parity.
    ``byte_base`` selects the vocab whose byte inventory is addressed
    (default: the normalized artifact's; the raw artifact's byte
    tokens sit at a different offset)."""
    base = _BPE_BYTE_BASE if byte_base is None else byte_base
    h = f"hex(encode({tok}))"

    def nib(pos: str) -> str:
        return (f"(strpos('0123456789ABCDEF', "
                f"substr({h}, CAST({pos} AS INTEGER), 1)) - 1)")

    return ("array_to_string(list_transform("
            f"range(1, len({h}) // 2 + 1), "
            f"i -> CAST({base} + {nib('2 * i - 1')} * 16 "
            f"+ {nib('2 * i')} AS VARCHAR)), ',')")


# x8 atok arm (r10): the RAW-SERVICE committed artifact — case kept,
# no end-of-word marker, attached-whitespace pretokens, space-prefixed
# merges. Its oracle replay separates symbols with chr(3) (NOT the
# space the normalized replay uses — a symbol can now BE a space) and
# escapes every token through _sq.
from serverless_data_pipeline_spark.operators.bpe_artifact import (  # noqa: E402,E501
    BPE_RAW_BASE_CHARS as _BPE_RAW_BASE,
    RAW_COMMITTED_MERGES as _BPE_RAW_MERGES,
)


def _bpe_wrap3_sql(tok: str) -> str:
    return f"chr(1) || '{_sq(tok)}' || chr(2)"


_BPE_RAW_NM = len(_BPE_RAW_MERGES)
_BPE_RAW_MERGES_SQL = "VALUES " + ", ".join(
    f"({i}, {_bpe_wrap3_sql(l)} || chr(3) || {_bpe_wrap3_sql(r)}, "
    f"{_bpe_wrap3_sql(l + r)})"
    for i, (l, r) in enumerate(_BPE_RAW_MERGES))
_BPE_RAW_VOCAB = _bpe_build_vocab(_BPE_RAW_MERGES, _BPE_RAW_BASE)
_BPE_RAW_VOCAB_SQL = "VALUES " + ", ".join(
    f"('{_sq(t)}', {i})" for t, i in _BPE_RAW_VOCAB.items())
_BPE_RAW_BYTE_BASE = _BPE_RAW_VOCAB["<0x00>"]

# x8 btok arm (r11): GPT-2-style byte-level committed artifact.
# Symbols are bytes_to_unicode-remapped BYTES; the oracle recomputes
# the remap ARITHMETICALLY (the mapping is piecewise by construction:
# byte b is remapped iff b < 33, 127 <= b <= 160, or b = 173, to
# chr(256 + #remapped-bytes-below-b)) — no table, parity with the
# Python/Spark dict by construction (spot-pinned in test_bpe).
from serverless_data_pipeline_spark.operators.bpe_artifact import (  # noqa: E402,E501
    BYTE_LEVEL_COMMITTED_MERGES as _BPE_BL_MERGES,
    build_byte_level_vocab as _bpe_bl_vocab,
)

_BPE_BL_NM = len(_BPE_BL_MERGES)
_BPE_BL_MERGES_SQL = "VALUES " + ", ".join(
    f"({i}, {_bpe_wrap3_sql(l)} || chr(3) || {_bpe_wrap3_sql(r)}, "
    f"{_bpe_wrap3_sql(l + r)})"
    for i, (l, r) in enumerate(_BPE_BL_MERGES))
_BPE_BL_VOCAB_SQL = "VALUES " + ", ".join(
    f"('{_sq(t)}', {i})" for t, i in _bpe_bl_vocab().items())

# byte value of UTF-8 byte i (1-based) of word w, via hex-pair strpos
# arithmetic — the same rendering discipline as the fallback fragment
_BL_B = ("((strpos('0123456789ABCDEF', "
         "substr(hex(encode(w)), CAST(2*i-1 AS INTEGER), 1)) - 1) * 16"
         " + strpos('0123456789ABCDEF', "
         "substr(hex(encode(w)), CAST(2*i AS INTEGER), 1)) - 1)")
# bytes_to_unicode as arithmetic: chr(b) for kept bytes, else
# chr(256 + E(b)) with E(b) = |remapped bytes strictly below b|
_BL_REMAP_SQL = (
    f"CASE WHEN {_BL_B} < 33 OR ({_BL_B} BETWEEN 127 AND 160) "
    f"OR {_BL_B} = 173 "
    f"THEN chr(CAST(256 + LEAST({_BL_B}, 33) "
    f"+ CASE WHEN {_BL_B} > 127 THEN LEAST({_BL_B} - 127, 34) "
    f"ELSE 0 END "
    f"+ CASE WHEN {_BL_B} > 173 THEN 1 ELSE 0 END AS INTEGER)) "
    f"ELSE chr(CAST({_BL_B} AS INTEGER)) END")


# x8 tok/ids arm input (r9 OOV hardening): the fixture text with a
# deterministically-derived MESSY suffix — digits, money/punctuation
# runs, bracketed version tokens, and 2/3/4-byte UTF-8 characters —
# valid verbatim in both engines (|| auto-casts the numeric operand),
# so the tokenizer arms exercise the printable base alphabet AND the
# byte fallback, value-checked cross-engine.
# x8 blk arm (r10): pack_token_blocks over the tok arm's REAL id
# streams — EOS = one id past the committed vocab (the reserved
# special-token slot), block length sized so sf docs straddle block
# boundaries and the drop-last rule fires per shard.
_BPE_EOS_ID = len(_bpe_build_vocab())
_X8_BLK_LEN = 256

_X8_TOK_TEXT_SQL = (
    "text || ' 42 $9.99 (a-b_c) [v' || (doc_id % 10) || '.0]! "
    "café 汉' || CASE WHEN doc_id % 3 = 0 "
    "THEN ' \U0001f642' ELSE ' +1;' END")

# x8 rtok arm input (r10 — raw-text tokenizer fidelity): the fixture
# text with planted MIXED CASE, a tab, a newline, double spaces, and
# leading/variable-trailing whitespace — everything the normalized
# tok arm destroys and raw mode must carry byte-for-byte. chr(9)/
# chr(10) render identically in both engines, so the derivation stays
# engine-identical by construction.
_X8_RAW_TEXT_SQL = (
    "' Lead ' || text || ' MiXeD CASE' || chr(9) || 'tab  two-sp' "
    "|| chr(10) || '42 $9.99 (A-b_C)! café 汉' "
    "|| CASE WHEN doc_id % 3 = 0 THEN ' \U0001f642' ELSE ' +1;' END "
    "|| CASE WHEN doc_id % 2 = 0 THEN '  ' ELSE chr(10) END")

# the raw pretokenizer's piece regex (one ASCII-whitespace char OR a
# maximal non-whitespace run), built with chr() so the oracle string
# holds no literal control characters
_RAW_WS_SQL = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
_RAW_PIECE_PAT = (f"'[' || {_RAW_WS_SQL} || ']|[^' || {_RAW_WS_SQL} "
                  "|| ']+'")

# streaming_ops mdrift_num arm (r10): the numeric-drift reference's
# value derivation — a planted mean shift (+10.0) and null surge
# (every 4th id NULL) relative to the stream — identical text in both
# engines, so the profile deltas are value-checkable by construction.
_MDRIFT_NUM_REF_SQL = (
    "CASE WHEN event_id % 4 = 0 THEN CAST(NULL AS DOUBLE) "
    "ELSE value + 10.0 END")

# x2 url/hostrank arms (r8): ONE messy-URL derivation, valid in both
# engines verbatim (|| auto-casts the numeric operands in each), so
# the canonicalization input is identical by construction. Exercises
# every canonicalize_url step: mixed-case scheme/host, default port,
# www., interior+terminal tracking params, fragment.
_X2_RAW_URL_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/' || lang "
    "|| '/Doc' || doc_id || '?utm_source=feed&utm_id=' || doc_id "
    "|| '&ref=' || (doc_id % 7) "
    "|| CASE WHEN doc_id % 5 = 0 THEN '&fbclid=abc' ELSE '' END "
    "|| CASE WHEN doc_id % 3 = 0 THEN '#Section-2' ELSE '' END")


# t5 drift/mix/mixcat arms (r8): version B of the documents corpus,
# derived exactly as the Spark arm derives it.
_DRIFT_BSNAP_SQL = """
    SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN n_chars + 10
                        ELSE n_chars END AS n_chars, lang, source
    FROM documents WHERE doc_id % 11 <> 0
    UNION ALL
    SELECT doc_id + 1000000, n_chars, 'xx', source FROM documents
    WHERE doc_id < 20"""


def _drift_col_sql(col: str, numeric: bool) -> str:
    """One 'drift' oracle row for one column: the profile_drift deltas,
    mirroring profile_columns' stats verbatim (the exact micro-unit
    decimal vavg, round-6 rates, round-6-of-round-6 deltas)."""
    va = (f"ROUND(CAST(SUM(CAST(ROUND({col} * 1000000) "
          f"AS DECIMAL(38,0))) AS DOUBLE) / (CAST(COUNT({col}) "
          f"AS DOUBLE) * 1e6), 6)" if numeric
          else "CAST(NULL AS DOUBLE)")
    stats = (f"SELECT COUNT(*) AS nr, COUNT({col}) AS nn, "
             f"COUNT(DISTINCT {col}) AS nd, {va} AS va FROM {{t}}")
    return f"""
            SELECT 'drift' AS kind, '{col}' AS col_name,
                   CAST(a.nr AS BIGINT) AS n_rows,
                   CAST(b.nr AS BIGINT) AS n_null,
                   ROUND(ROUND(CAST(b.nr - b.nn AS DOUBLE) / b.nr, 6)
                         - ROUND(CAST(a.nr - a.nn AS DOUBLE) / a.nr, 6),
                         6) AS null_frac,
                   CAST(b.nd - a.nd AS BIGINT) AS n_distinct,
                   ROUND(CAST(a.nd AS DOUBLE) / a.nr, 6) AS vmin,
                   ROUND(CAST(b.nd AS DOUBLE) / b.nr, 6) AS vmax,
                   ROUND(b.va - a.va, 6) AS vavg,
                   'both' AS smin, CAST(NULL AS VARCHAR) AS smax,
                   ROUND(ROUND(CAST(b.nd AS DOUBLE) / b.nr, 6)
                         - ROUND(CAST(a.nd AS DOUBLE) / a.nr, 6), 6)
                       AS score
            FROM ({stats.format(t='documents')}) a
            CROSS JOIN ({stats.format(t=f'({_DRIFT_BSNAP_SQL})')}) b"""


def _mixterms_sql(col: str, a_from: str | None = None,
                  b_from: str | None = None) -> str:
    """Per-category mix_shift terms for one categorical column —
    round-6 fractions, eps-clamped PSI terms, 0*ln(0)=0 JS terms,
    each +0.0 so a -0.0 never transits the compare. ``a_from`` /
    ``b_from`` override the two version sources (default: the t5
    documents-vs-derived-snapshot pair); the streaming mdrift arms
    pass events-based sources through the same generator."""
    a_from = a_from or "documents"
    b_from = b_from or f"({_DRIFT_BSNAP_SQL})"
    return f"""
        SELECT category, n_a, n_b, frac_a, frac_b,
               ROUND(frac_b - frac_a, 6) AS frac_delta,
               ROUND((GREATEST(frac_a, 1e-6) - GREATEST(frac_b, 1e-6))
                     * ln(GREATEST(frac_a, 1e-6)
                          / GREATEST(frac_b, 1e-6)), 6) + 0.0
                   AS psi_term,
               ROUND(0.5 * (CASE WHEN frac_a > 0
                                 THEN frac_a * ln(frac_a /
                                          ((frac_a + frac_b) / 2))
                                 ELSE 0.0 END
                          + CASE WHEN frac_b > 0
                                 THEN frac_b * ln(frac_b /
                                          ((frac_a + frac_b) / 2))
                                 ELSE 0.0 END), 6) + 0.0 AS js_term
        FROM (SELECT category, n_a, n_b,
                     CASE WHEN ta > 0
                          THEN ROUND(CAST(n_a AS DOUBLE) / ta, 6)
                          ELSE 0.0 END AS frac_a,
                     CASE WHEN tb > 0
                          THEN ROUND(CAST(n_b AS DOUBLE) / tb, 6)
                          ELSE 0.0 END AS frac_b
              FROM (SELECT category, SUM(s1) AS n_a, SUM(s2) AS n_b,
                           SUM(SUM(s1)) OVER () AS ta,
                           SUM(SUM(s2)) OVER () AS tb
                    FROM (SELECT {col} AS category, 1 AS s1, 0 AS s2
                          FROM {a_from}
                          UNION ALL
                          SELECT {col}, 0, 1
                          FROM {b_from})
                    GROUP BY category))"""


def _mix_summary_sql(col: str) -> str:
    """One 'mix' oracle row: mix_shift_summary's PSI/JS/TVD scalars,
    micro-unit-long term sums mirrored."""
    return f"""
            SELECT 'mix' AS kind, '{col}' AS col_name,
                   CAST(SUM(CASE WHEN n_a > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN n_b > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(SUM(ABS(CAST(ROUND((frac_b - frac_a) * 1000000)
                                     AS BIGINT))) AS DOUBLE) / 2e6
                       AS null_frac,
                   CAST(SUM(CASE WHEN n_a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_distinct,
                   CAST(SUM(CAST(ROUND(psi_term * 1000000) AS BIGINT))
                        AS DOUBLE) / 1e6 AS vmin,
                   CAST(SUM(CAST(ROUND(js_term * 1000000) AS BIGINT))
                        AS DOUBLE) / 1e6 AS vmax,
                   CAST(NULL AS DOUBLE) AS vavg,
                   CAST(NULL AS VARCHAR) AS smin,
                   CAST(NULL AS VARCHAR) AS smax,
                   CAST(NULL AS DOUBLE) AS score
            FROM ({_mixterms_sql(col)})"""


def _x11_lex_ctes() -> str:
    """DuckDB mirror of the x11 lexicon_tag arm, generated from the
    SAME _X11_LEXICONS constant: per-category token hit counts, the
    (-hits, name)-sorted dominant tag, the blocked flag."""
    cats = sorted(_X11_LEXICONS)
    cols = ", ".join(
        "CAST(len(list_filter(lt, x -> list_contains(["
        + ", ".join("'" + w + "'" for w in sorted(set(_X11_LEXICONS[c])))
        + f"], x))) AS BIGINT) AS lex_{c}"
        for c in cats)
    structs = ", ".join(f"{{'h': -lex_{c}, 'c': '{c}'}}" for c in cats)
    return (
        " lx0 AS (SELECT doc_id, " + cols
        + " FROM (SELECT doc_id, " + _TOKENS_SQL.format(c="lower(text)")
        + " AS lt FROM documents)),"
        " lx AS (SELECT doc_id, lex_banned, lex_compute, lex_storage,"
        f"    CASE WHEN -(list_sort([{structs}])[1].h) > 0"
        f"         THEN list_sort([{structs}])[1].c END AS lex_top,"
        "     (lex_banned >= 2) AS lex_blocked FROM lx0),")


def _rp_oracle_sql(out_dim: int = 16, in_dim: int = 64,
                   seed: int = 1234) -> str:
    """DuckDB mirror of random_projection for the x3 `rp` arm: the SAME
    achlioptas_matrix constant, the SAME micro-unit quantization, the
    SAME repr()-injected sqrt(3/k) literal — integer signed sums, so
    the comparison is exact equality. Single pass: the 16 components
    unnest from one struct list per vector. The per-component SQL comes
    from the SAME projection_exprs generator the operator uses (only
    the element accessor differs), so an edit to the scale/rounding at
    one site cannot silently break parity at the other."""
    from serverless_data_pipeline_spark.operators.similarity import (
        projection_exprs,
    )
    exprs = projection_exprs(out_dim, in_dim=in_dim, seed=seed,
                             elem_fmt="v[{i}]")
    comps = [f"{{'j': CAST({j} AS BIGINT), 'p': {e}}}"
             for j, e in enumerate(exprs)]
    return (
        "SELECT 'rp' AS mode, vec_id AS query_id, "
        "u.j AS neighbor_id, u.p AS score "
        "FROM (SELECT vec_id, unnest([" + ", ".join(comps) + "]) AS u "
        "FROM (SELECT vec_id, list_transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v "
        "FROM embeddings))")


def _cbal_oracle_sql(per_cluster: int = 25) -> str:
    """DuckDB mirror of the x3 cbal arm: score expressions generated by
    the SAME cell_score_exprs helper the operator uses (only the
    element accessor differs), argmax via the same (-score, k) struct
    sort, quota via the same md5-of-id window rank."""
    from serverless_data_pipeline_spark.operators.similarity import (
        cell_score_exprs,
    )
    scores = cell_score_exprs(_X3_CENTROIDS, "v[{i}]")
    structs = ", ".join(
        f"{{'s': -({sc}), 'k': CAST({k} AS BIGINT)}}"
        for k, sc in enumerate(scores))
    return (
        "SELECT concat('cbal_', CASE WHEN rn <= " + str(per_cluster)
        + " THEN 's' ELSE 'u' END) AS mode, "
        "vec_id AS query_id, cell AS neighbor_id, score "
        "FROM (SELECT vec_id, cell, score, "
        "ROW_NUMBER() OVER (PARTITION BY cell "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn "
        f"FROM (SELECT vec_id, list_sort([{structs}])[1].k AS cell, "
        f"-(list_sort([{structs}])[1].s) AS score "
        "FROM (SELECT vec_id, list_transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v "
        "FROM embeddings)))")


def _bm25_oracle_sql(qid: int, query: str) -> str:
    """DuckDB BM25 for one query, mirroring bm25_topk's expression
    STRUCTURE exactly (same parenthesization, same sorted-term sum
    order, idf rounded to 6 before use, k1+1 written as the SUM
    `(1.2 + 1.0)` so both engines compute the same double) — float
    arithmetic then agrees bit-for-bit, not just approximately."""
    terms = sorted({t for t in query.lower().split() if t})
    tf_cols = ", ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms)))
    term_sum = " + ".join(
        f"(round(ln(1 + (N - df{i} + 0.5) / (df{i} + 0.5)), 6)"
        f" * (tf{i} * (1.2 + 1.0)))"
        f" / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl"
        f" / (CAST(sumdl AS DOUBLE) / N)))"
        for i in range(len(terms)))
    toks = _TOKENS_SQL.format(c="lower(text)")
    return f"""
        SELECT 'bm25' AS mode, CAST({qid} AS BIGINT) AS query_id,
               doc_id AS neighbor_id, ROUND(score, 6) AS score
        FROM (WITH p AS (SELECT doc_id, len(tk) AS dl, {tf_cols}
                         FROM (SELECT doc_id, {toks} AS tk
                               FROM documents)),
              s AS (SELECT COUNT(*) AS N, SUM(dl) AS sumdl, {df_cols}
                    FROM p)
              SELECT doc_id, 0.0 + {term_sum} AS score
              FROM p CROSS JOIN s)
        WHERE score > 0
        ORDER BY score DESC, neighbor_id LIMIT 10"""
_BPE_SQL = "regexp_extract_all({c}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')"

# X14 classifier constants: the SAME committed weight vector the Spark
# operator folds into its plan, as a DuckDB BIGINT[] literal in 1e-6
# micro-units (exact integer logit accumulation in both engines).
from serverless_data_pipeline_spark.operators.text import (  # noqa: E402
    default_quality_weights as _dqw,
)

_QW_B = 512
_QW_SQL = ("[" + ",".join(str(int(round(w * 1e6))) for w in _dqw(_QW_B))
           + "]::BIGINT[]")


# url/hostrank oracle renderings — the SAME generated step list the
# Spark arm executes, in the RE2 dialect (parity by construction)
from serverless_data_pipeline_spark.operators.urls import (  # noqa: E402
    canonicalize_url_sql as _canon_sql,
    url_host_sql as _hostx_sql,
)


def _canon_url_duckdb(col: str) -> str:
    return _canon_sql(col, "duckdb")


def _host_duckdb(col: str) -> str:
    return _hostx_sql(col, "duckdb")


def _pagerank_ctes(iters: int = 5, damping: float = 0.85, *,
                   prefix: str = "", edges: str = "edges",
                   directed: bool = False) -> str:
    """Unrolled PageRank iterations over an edge-list CTE, mirroring
    operators/graph.py EXACTLY: integer micro-unit ranks, per-edge
    contributions rounded to BIGINT before the sum, and the float
    literals injected via repr() so e.g. 1.0-0.85 is the same
    0.15000000000000002 double both engines round with. In the default
    (symmetrized) mode the `+ 0` is the dangling-share term,
    identically zero because symmetrization gives every node
    out-edges; ``directed=True`` (r9, hyperlink-shaped graphs) takes
    nodes from BOTH edge ends and adds the kernel's real correction —
    per iteration, the summed rank of out-edge-less nodes is divided
    by N (one long/long double division, same single IEEE op as the
    kernel's round(__d / __n)) and redistributed to every node.
    ``prefix`` namespaces the generated CTEs so the unroll can appear
    more than once in one statement (x2 uses it for the doc-grain pair
    graph AND the r8/r9 host graphs). NB the nodes CTE wraps UNION ALL
    in SELECT DISTINCT, never a bare UNION — inside a WITH RECURSIVE
    statement DuckDB treats a bare UNION in a non-recursive CTE as
    UNION ALL."""
    p = prefix
    base = (f"{1.0 - damping!r} * 1000000.0 "
            f"/ CAST((SELECT n FROM {p}nn) AS DOUBLE)")
    if directed:
        nodes = (f"{p}nodes AS (SELECT DISTINCT id FROM ("
                 f"SELECT src AS id FROM {edges} "
                 f"UNION ALL SELECT dst FROM {edges}))")
    else:
        nodes = f"{p}nodes AS (SELECT DISTINCT src AS id FROM {edges})"
    ctes = [
        nodes,
        f"{p}nn AS (SELECT COUNT(*) AS n FROM {p}nodes)",
        f"{p}deg AS (SELECT src, COUNT(*) AS dg FROM {edges} "
        f"GROUP BY src)",
        f"{p}pr0 AS (SELECT id, CAST(round(1000000.0 "
        f"/ (SELECT n FROM {p}nn)) AS BIGINT) AS r FROM {p}nodes)",
    ]
    for t in range(1, iters + 1):
        if directed:
            ctes.append(
                f"{p}dang{t} AS (SELECT COALESCE(SUM(r), 0) AS d "
                f"FROM {p}pr{t - 1} WHERE id NOT IN "
                f"(SELECT src FROM {p}deg))")
            share = (f"(SELECT CAST(round(d / (SELECT n FROM {p}nn)) "
                     f"AS BIGINT) FROM {p}dang{t})")
        else:
            share = "0"
        ctes.append(f"""{p}pr{t} AS (
                SELECT n.id, CAST(round({base}
                       + {damping!r} * CAST(COALESCE(i.s, 0) + {share}
                                            AS DOUBLE))
                       AS BIGINT) AS r
                FROM {p}nodes n LEFT JOIN (
                    SELECT e.dst AS id,
                           SUM(CAST(round(p.r / d.dg) AS BIGINT)) AS s
                    FROM {edges} e JOIN {p}pr{t - 1} p ON e.src = p.id
                    JOIN {p}deg d ON e.src = d.src
                    GROUP BY e.dst) i ON n.id = i.id)""")
    return ",\n            ".join(ctes)


_CLUSTERS_ORACLE = f"""
            WITH RECURSIVE t AS (SELECT doc_id,
                              {_TOKENS_SQL.format(c='text')} AS toks
                       FROM documents),
            sh0 AS (SELECT doc_id, unnest(list_distinct(
                        CASE WHEN len(toks) < 3
                             THEN [array_to_string(toks, ' ')]
                             ELSE list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' '))
                        END)) AS sh
                    FROM t),
            sh1 AS (SELECT doc_id, sh FROM sh0 WHERE sh <> ''),
            keepsh AS (SELECT sh FROM sh1 GROUP BY sh
                       HAVING COUNT(*) <= 100),
            sh2 AS (SELECT s.doc_id, s.sh FROM sh1 s JOIN keepsh USING (sh)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2
                      GROUP BY doc_id),
            common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                              COUNT(*) AS c
                       FROM sh2 a JOIN sh2 b USING (sh)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (SELECT id_a, id_b,
                             ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c),
                                   6) AS jacc
                      FROM common
                      JOIN sizes sa ON sa.doc_id = id_a
                      JOIN sizes sb ON sb.doc_id = id_b
                      WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.4),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION
                      SELECT id_b AS src, id_a AS dst FROM pairs),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            comp AS (SELECT src AS id_a,
                            LEAST(src, MIN(dst)) AS id_b
                     FROM reach GROUP BY src),
            {_pagerank_ctes(iters=5, damping=0.85)},
            -- r8 url/hostrank: canonicalized urls (RE2 rendering of
            -- the SAME generated step list) and the host-grain
            -- pagerank over the near-dup pair graph
            durl AS (SELECT doc_id,
                            {_canon_url_duckdb('__raw')} AS cu
                     FROM (SELECT doc_id, {_X2_RAW_URL_SQL} AS __raw
                           FROM documents)),
            dhost AS (SELECT doc_id, {_host_duckdb('cu')} AS h
                      FROM durl),
            -- NOTE: explicit DISTINCT wrapper, not a bare UNION — in a
            -- WITH RECURSIVE statement DuckDB does NOT deduplicate a
            -- UNION inside a non-recursive CTE (it behaves as UNION
            -- ALL), which double-counts degrees and skews every rank
            hedges AS (SELECT DISTINCT src, dst FROM (
                       SELECT ha.h AS src, hb.h AS dst
                       FROM pairs p
                       JOIN dhost ha ON ha.doc_id = p.id_a
                       JOIN dhost hb ON hb.doc_id = p.id_b
                       WHERE ha.h <> hb.h
                       UNION ALL
                       SELECT hb.h, ha.h
                       FROM pairs p
                       JOIN dhost ha ON ha.doc_id = p.id_a
                       JOIN dhost hb ON hb.doc_id = p.id_b
                       WHERE ha.h <> hb.h)),
            {_pagerank_ctes(iters=3, damping=0.85, prefix='h',
                            edges='hedges')},
            -- r9 hostrankd: DIRECTED host graph (id_a links TO id_b —
            -- direction kept, no symmetrization) + the directed
            -- unroll with its per-iteration dangling-share CTEs
            hdedges AS (SELECT DISTINCT ha.h AS src, hb.h AS dst
                        FROM pairs p
                        JOIN dhost ha ON ha.doc_id = p.id_a
                        JOIN dhost hb ON hb.doc_id = p.id_b
                        WHERE ha.h <> hb.h),
            {_pagerank_ctes(iters=3, damping=0.85, prefix='hd',
                            edges='hdedges', directed=True)}
            SELECT 'pairs' AS algo, id_a, id_b, jacc AS metric,
                   CAST(NULL AS VARCHAR) AS h FROM pairs
            UNION ALL
            SELECT 'label' AS algo, id_a, id_b,
                   CAST(NULL AS DOUBLE) AS metric,
                   CAST(NULL AS VARCHAR) AS h FROM comp
            UNION ALL
            SELECT 'star' AS algo, id_a, id_b,
                   CAST(NULL AS DOUBLE) AS metric,
                   CAST(NULL AS VARCHAR) AS h FROM comp
            UNION ALL
            SELECT 'pagerank' AS algo, id AS id_a,
                   CAST(NULL AS BIGINT) AS id_b,
                   CAST(r AS DOUBLE) / 1000000.0 AS metric,
                   CAST(NULL AS VARCHAR) AS h FROM pr5
            UNION ALL
            SELECT 'csize' AS algo, CAST(sz AS BIGINT) AS id_a,
                   CAST(n AS BIGINT) AS id_b,
                   CAST(NULL AS DOUBLE) AS metric,
                   CAST(NULL AS VARCHAR) AS h
            FROM (SELECT sz, COUNT(*) AS n
                  FROM (SELECT id_b, COUNT(*) AS sz
                        FROM comp GROUP BY id_b)
                  GROUP BY sz)
            UNION ALL
            SELECT 'url' AS algo, doc_id AS id_a,
                   CAST(NULL AS BIGINT) AS id_b,
                   CAST(NULL AS DOUBLE) AS metric, cu AS h FROM durl
            UNION ALL
            SELECT 'hostrank' AS algo, CAST(NULL AS BIGINT) AS id_a,
                   CAST(NULL AS BIGINT) AS id_b,
                   CAST(r AS DOUBLE) / 1000000.0 AS metric, id AS h
            FROM hpr3
            UNION ALL
            SELECT 'hostrankd' AS algo, CAST(NULL AS BIGINT) AS id_a,
                   CAST(NULL AS BIGINT) AS id_b,
                   CAST(r AS DOUBLE) / 1000000.0 AS metric, id AS h
            FROM hdpr3
            UNION ALL
            -- r9 hquota: per-host quota sampling — the same seeded
            -- md5 rank window host_quota_sample runs
            SELECT 'hquota' AS algo, doc_id AS id_a,
                   CAST(rn AS BIGINT) AS id_b,
                   CAST(NULL AS DOUBLE) AS metric, h
            FROM (SELECT doc_id, h,
                         ROW_NUMBER() OVER (
                             PARTITION BY h
                             ORDER BY md5('7:' || CAST(doc_id
                                                       AS VARCHAR)),
                                      doc_id) AS rn
                  FROM dhost)
            WHERE rn <= CASE h WHEN 'src0.example.com' THEN 5
                               WHEN 'src1.example.com' THEN 12
                               ELSE 8 END
            UNION ALL
            -- r10 hquotaq: the ordered variant — keep each host's
            -- highest-n_chars docs; same window with the quality
            -- column prepended to the sort
            SELECT 'hquotaq' AS algo, doc_id AS id_a,
                   CAST(rn AS BIGINT) AS id_b,
                   CAST(NULL AS DOUBLE) AS metric, h
            FROM (SELECT d.doc_id, d.h,
                         ROW_NUMBER() OVER (
                             PARTITION BY d.h
                             ORDER BY (d.doc_id * 37) % 101 DESC,
                                      md5('7:' || CAST(d.doc_id
                                                       AS VARCHAR)),
                                      d.doc_id) AS rn
                  FROM dhost d)
            WHERE rn <= CASE h WHEN 'src0.example.com' THEN 5
                               WHEN 'src1.example.com' THEN 12
                               ELSE 8 END"""


def _x4_pq_sql() -> str:
    """The x4_pq_exact oracle: replay the PQ encode (per-subspace
    argmin over the committed codebooks), the ADC cosine estimate,
    the shortlist boundary, the exact-cosine re-rank, and the IVF-PQ
    cell pruning — all from the SAME committed literals the Spark
    query consumes (operators/similarity_artifact.py). Every float is
    CAST to DOUBLE up front so both engines compute in float64;
    numpy's summation-order deltas (~1e-16) are far below the argmin
    margins and the 6dp rounding (see the query docstring)."""
    from serverless_data_pipeline_spark.operators.similarity_artifact import (
        IVF_COMMITTED_CENTROIDS, PQ_COMMITTED_CODEBOOKS, PQ_ORACLE_QUERY,
    )
    cb_rows = ", ".join(
        f"({j}, {c}, [{', '.join(repr(v) for v in vec)}])"
        for j, book in enumerate(PQ_COMMITTED_CODEBOOKS)
        for c, vec in enumerate(book))
    cent_rows = ", ".join(
        f"({ci}, [{', '.join(repr(v) for v in vec)}])"
        for ci, vec in enumerate(IVF_COMMITTED_CENTROIDS))
    qlit = "[" + ", ".join(repr(v) for v in PQ_ORACLE_QUERY) + "]"
    return f"""
        WITH cb(j, c, v) AS (VALUES {cb_rows}),
        cent(ci, cv) AS (VALUES {cent_rows}),
        qv AS (SELECT CAST({qlit} AS DOUBLE[]) AS q,
                      sqrt(list_sum(list_transform(
                          CAST({qlit} AS DOUBLE[]), x -> x * x)))
                          AS qn),
        e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                     list_transform(embedding,
                                    x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings),
        -- PQ encode: per (vector, subspace) argmin of
        -- ||c||^2 - 2 x.c (the ||x||^2 term is constant over the
        -- argmin — the exact expansion pq_encode_udf uses); ties
        -- break to the lowest centroid index like np.argmin
        enc AS (
            SELECT vec_id, j, (list(c ORDER BY dist, c))[1] AS code
            FROM (SELECT e.vec_id, cb.j, cb.c,
                         list_sum(list_transform(range(1, 9),
                             i -> cb.v[i] * cb.v[i]))
                         - 2 * list_sum(list_transform(range(1, 9),
                             i -> e.emb[cb.j * 8 + i] * cb.v[i]))
                             AS dist
                  FROM e, cb)
            GROUP BY vec_id, j),
        -- ADC cosine estimate: query stays full precision, the
        -- corpus vector is its codebook reconstruction
        adc AS (
            SELECT enc.vec_id,
                   SUM(list_sum(list_transform(range(1, 9),
                       i -> q[b.j * 8 + i] * b.v[i]))) AS ip,
                   SUM(list_sum(list_transform(range(1, 9),
                       i -> b.v[i] * b.v[i]))) AS en
            FROM enc JOIN cb b ON b.j = enc.j AND b.c = enc.code, qv
            GROUP BY enc.vec_id),
        adcs AS (
            SELECT vec_id,
                   CASE WHEN sqrt(en) * qn = 0 THEN NULL
                        ELSE ip / (sqrt(en) * qn) END AS a
            FROM adc, qv),
        -- exact cosine per vector (the re-rank metric)
        ex AS (
            SELECT vec_id,
                   CASE WHEN nrm * qn = 0 THEN NULL
                        ELSE ip / (nrm * qn) END AS cos
            FROM (SELECT e.vec_id, qv.qn,
                         list_sum(list_transform(range(1, 65),
                             i -> e.emb[i] * q[i])) AS ip,
                         sqrt(list_sum(list_transform(e.emb,
                             x -> x * x))) AS nrm
                  FROM e, qv)),
        -- centroid norms once (norm 0 -> 1, argmax_cell_udf's guard)
        centn AS (
            SELECT ci, cv, CASE WHEN n0 = 0 THEN 1 ELSE n0 END AS cn
            FROM (SELECT ci, cv,
                         sqrt(list_sum(list_transform(
                             cv, x -> x * x))) AS n0
                  FROM cent)),
        -- IVF coarse cells: argmax of (x.c)/||c||, ties to the LOWEST
        -- cell like np.argmax; all-zero vectors score 0 everywhere
        -- and land in cell 0
        cells AS (
            SELECT vec_id,
                   (list(ci ORDER BY score DESC, ci))[1] AS cell
            FROM (SELECT e.vec_id, centn.ci,
                         list_sum(list_transform(range(1, 65),
                             i -> e.emb[i] * centn.cv[i]))
                         / centn.cn AS score
                  FROM e, centn)
            GROUP BY vec_id),
        -- the query's n_probe=4 nearest cells by cosine (sim DESC,
        -- cell ASC — _probe_cells' order)
        probe AS (
            SELECT ci FROM (
                SELECT centn.ci,
                       list_sum(list_transform(range(1, 65),
                           i -> q[i] * centn.cv[i]))
                       / (centn.cn * qn) AS sim
                FROM centn, qv)
            ORDER BY sim DESC, ci LIMIT 4),
        short AS (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY a DESC, vec_id)
                       AS rn
            FROM adcs),
        ivshort AS (
            SELECT adcs.vec_id,
                   ROW_NUMBER() OVER (ORDER BY a DESC, adcs.vec_id)
                       AS rn
            FROM adcs JOIN cells USING (vec_id)
            WHERE cells.cell IN (SELECT ci FROM probe))
        -- pq_adc: codes-only ADC top-20 (rounded metric is the sort)
        SELECT 'pq_adc' AS method, vec_id AS id, cosine
        FROM (SELECT vec_id, ROUND(a, 6) AS cosine,
                     ROW_NUMBER() OVER (ORDER BY ROUND(a, 6) DESC,
                                        vec_id) AS rn
              FROM adcs)
        WHERE rn <= 20
        UNION ALL
        -- pq_refined: unrounded-ADC top-50 shortlist, exact re-rank
        SELECT 'pq_refined' AS method, vec_id AS id, cosine
        FROM (SELECT s.vec_id, ROUND(ex.cos, 6) AS cosine,
                     ROW_NUMBER() OVER (ORDER BY ROUND(ex.cos, 6)
                                        DESC, s.vec_id) AS rr
              FROM short s JOIN ex ON ex.vec_id = s.vec_id
              WHERE s.rn <= 50)
        WHERE rr <= 10
        UNION ALL
        -- ivfpq: cell-pruned ADC shortlist, exact re-rank
        SELECT 'ivfpq' AS method, vec_id AS id, cosine
        FROM (SELECT s.vec_id, ROUND(ex.cos, 6) AS cosine,
                     ROW_NUMBER() OVER (ORDER BY ROUND(ex.cos, 6)
                                        DESC, s.vec_id) AS rr
              FROM ivshort s JOIN ex ON ex.vec_id = s.vec_id
              WHERE s.rn <= 50)
        WHERE rr <= 10"""


def oracle_sql() -> dict[str, str]:
    dsum_v = _DSUM_SQL.format(c="value")
    return {
        "x4_pq_exact": _x4_pq_sql(),
        "s12_json_parquet_sql": """
            SELECT 'json' AS kind, lang AS grp,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(n_chars) AS DOUBLE) AS total
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 'sql' AS kind, n_name AS grp,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
                       AS total
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        "t_etl_suite": """
            WITH etl AS (
            SELECT event_id, 's3' AS source, 'json' AS data_type,
                   'normal' AS priority, 'b1' AS batch_id,
                   lower(trim(event_type)) AS clean_type,
                   CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS year,
                   CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS month,
                   CAST(day(CAST(ts AS TIMESTAMP)) AS INTEGER) AS day,
                   CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS event_hour,
                   value,
                   COALESCE(event_id IS NOT NULL AND ts IS NOT NULL
                            AND value >= 0.05, FALSE) AS is_valid
            FROM events)
            SELECT 'etl' AS kind, * FROM etl
            UNION ALL
            -- T4 parity: the chunked fan-out is semantically transparent
            SELECT 't4' AS kind, * FROM etl WHERE is_valid""",
        "t5_quality_score": f"""
            SELECT 'score' AS kind, CAST(NULL AS VARCHAR) AS col_name,
                   CAST(NULL AS BIGINT) AS n_rows,
                   CAST(NULL AS BIGINT) AS n_null,
                   CAST(NULL AS DOUBLE) AS null_frac,
                   CAST(NULL AS BIGINT) AS n_distinct,
                   CAST(NULL AS DOUBLE) AS vmin,
                   CAST(NULL AS DOUBLE) AS vmax,
                   CAST(NULL AS DOUBLE) AS vavg,
                   CAST(NULL AS VARCHAR) AS smin,
                   CAST(NULL AS VARCHAR) AS smax,
                   ROUND((5.0 + AVG(CASE WHEN n_chars >= 200 THEN 1.0
                                         ELSE 0.0 END)) / 6.0, 6) AS score
            FROM documents
            UNION ALL
            SELECT 'profile', 'event_id', COUNT(*),
                   COUNT(*) - COUNT(event_id),
                   ROUND((COUNT(*) - COUNT(event_id)) * 1.0 / COUNT(*), 6),
                   COUNT(DISTINCT event_id),
                   CAST(MIN(event_id) AS DOUBLE),
                   CAST(MAX(event_id) AS DOUBLE),
                   ROUND(CAST(SUM(CAST(ROUND(event_id * 1000000) AS DECIMAL(38,0))) AS DOUBLE) / (CAST(COUNT(event_id) AS DOUBLE) * 1e6), 6),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM events
            UNION ALL
            SELECT 'profile', 'user_id', COUNT(*),
                   COUNT(*) - COUNT(user_id),
                   ROUND((COUNT(*) - COUNT(user_id)) * 1.0 / COUNT(*), 6),
                   COUNT(DISTINCT user_id),
                   CAST(MIN(user_id) AS DOUBLE),
                   CAST(MAX(user_id) AS DOUBLE),
                   ROUND(CAST(SUM(CAST(ROUND(user_id * 1000000) AS DECIMAL(38,0))) AS DOUBLE) / (CAST(COUNT(user_id) AS DOUBLE) * 1e6), 6),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM events
            UNION ALL
            SELECT 'profile', 'value', COUNT(*), COUNT(*) - COUNT(value),
                   ROUND((COUNT(*) - COUNT(value)) * 1.0 / COUNT(*), 6),
                   COUNT(DISTINCT value),
                   CAST(MIN(value) AS DOUBLE),
                   CAST(MAX(value) AS DOUBLE), ROUND(CAST(SUM(CAST(ROUND(value * 1000000) AS DECIMAL(38,0))) AS DOUBLE) / (CAST(COUNT(value) AS DOUBLE) * 1e6), 6),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM events
            UNION ALL
            SELECT 'profile', 'event_type', COUNT(*),
                   COUNT(*) - COUNT(event_type),
                   ROUND((COUNT(*) - COUNT(event_type)) * 1.0
                         / COUNT(*), 6),
                   COUNT(DISTINCT event_type),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   MIN(event_type), MAX(event_type),
                   CAST(NULL AS DOUBLE)
            FROM events
            UNION ALL
            SELECT 'profile', 'ts', COUNT(*), COUNT(*) - COUNT(ts),
                   ROUND((COUNT(*) - COUNT(ts)) * 1.0 / COUNT(*), 6),
                   COUNT(DISTINCT ts),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM events
            UNION ALL
            -- z>3 outlier monitoring; the flag condition mirrors the
            -- operator's parenthesization verbatim over exact
            -- decimal-accumulated micro-unit stats
            SELECT 'anomaly', event_type, CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT),
                   ROUND(SUM(CASE WHEN o THEN 1 ELSE 0 END) * 1.0
                         / COUNT(*), 6),
                   CAST(MAX(n) AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE)
            FROM (
              WITH av AS (SELECT event_type,
                                 CAST(ROUND(value * 1000000)
                                      AS DECIMAL(19,0)) AS v
                          FROM events),
                   ast AS (SELECT event_type, COUNT(v) AS n,
                                  CAST(SUM(v) AS DOUBLE) AS s,
                                  CAST(SUM(v * v) AS DOUBLE) AS q
                           FROM av GROUP BY event_type)
              SELECT av.event_type, ast.n,
                     CASE WHEN v IS NULL THEN FALSE
                          ELSE ((CAST(v AS DOUBLE) * CAST(n AS DOUBLE)
                                 - s)
                                * (CAST(v AS DOUBLE) * CAST(n AS DOUBLE)
                                   - s))
                               > (9.0 * (CAST(n AS DOUBLE) * q - s * s))
                     END AS o
              -- null-safe: flag_outliers gives NULL keys their own
              -- group (eqNullSafe join); USING would silently drop
              -- them if a fixture ever grew NULL event_types
              FROM av JOIN ast
                ON av.event_type IS NOT DISTINCT FROM ast.event_type)
            GROUP BY event_type
            UNION ALL
            -- r8 drift arms: dataset-version QA between documents (A)
            -- and the derived snapshot B; per-column profile deltas
            {_drift_col_sql('doc_id', True)}
            UNION ALL
            {_drift_col_sql('n_chars', True)}
            UNION ALL
            {_drift_col_sql('lang', False)}
            UNION ALL
            {_drift_col_sql('source', False)}
            UNION ALL
            {_mix_summary_sql('lang')}
            UNION ALL
            {_mix_summary_sql('source')}
            UNION ALL
            -- per-category language-mix detail
            SELECT 'mixcat' AS kind, 'lang:' || category AS col_name,
                   CAST(n_a AS BIGINT) AS n_rows,
                   CAST(n_b AS BIGINT) AS n_null,
                   frac_delta AS null_frac,
                   CAST(NULL AS BIGINT) AS n_distinct,
                   frac_a AS vmin, frac_b AS vmax, psi_term AS vavg,
                   CAST(NULL AS VARCHAR) AS smin,
                   CAST(NULL AS VARCHAR) AS smax, js_term AS score
            FROM ({_mixterms_sql('lang')})""",
        "t7_filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   l_extendedprice * (1 - l_discount) AS net_price,
                   l_returnflag || '/' || l_linestatus AS flag_status
            FROM lineitem
            WHERE l_quantity >= 48 AND l_returnflag = 'R'""",
        "j2_outer_suite": f"""
            SELECT 'inner' AS side, CAST(c_custkey AS BIGINT) AS key,
                   CAST(COUNT(*) AS BIGINT) AS n_a,
                   CAST(NULL AS BIGINT) AS n_b,
                   {_DSUM_SQL.format(c='o_totalprice')} AS amount
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey
            UNION ALL
            SELECT 'left' AS side, CAST(c_custkey AS BIGINT) AS key,
                   CAST(COUNT(o_orderkey) AS BIGINT) AS n_a,
                   CAST(NULL AS BIGINT) AS n_b,
                   {_DSUM_SQL.format(c='o_totalprice')} AS amount
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
            UNION ALL
            SELECT 'right' AS side, CAST(c_custkey AS BIGINT) AS key,
                   CAST(COUNT(o_orderkey) AS BIGINT) AS n_a,
                   CAST(NULL AS BIGINT) AS n_b,
                   {_DSUM_SQL.format(c='o_totalprice')} AS amount
            FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey
            UNION ALL
            SELECT 'full' AS side, CAST(COALESCE(cn, sn) AS BIGINT) AS key,
                   n_a, n_b, CAST(NULL AS DOUBLE) AS amount
            FROM (SELECT c_nationkey AS cn,
                         CAST(COUNT(*) AS BIGINT) AS n_a
                  FROM customer WHERE c_nationkey >= 5 GROUP BY 1) c
            FULL OUTER JOIN
                 (SELECT s_nationkey AS sn,
                         CAST(COUNT(*) AS BIGINT) AS n_b
                  FROM supplier WHERE s_nationkey < 12 GROUP BY 1) s
              ON cn = sn""",
        "j3_semi_anti_join": """
            SELECT 'semi' AS kind, c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT 'anti' AS kind, c_custkey, c_mktsegment FROM customer
            WHERE NOT EXISTS
                (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            -- bsemi: the Bloom-prefiltered semi join is value-identical
            -- to the plain semi join (one-sided error, FPs discarded by
            -- the real join) — same EXISTS, different tag
            SELECT 'bsemi' AS kind, c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "j4_broadcast_join": f"""
            SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_items,
                   {_DSUM_SQL.format(c='l_extendedprice * (1 - l_discount)')}
                       AS gross_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand""",
        "j56_cross_range": f"""
            WITH banded AS (
                SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
                       {dsum_v} AS sum_value
                FROM events e
                JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 200.0),
                             ('high', 200.0, 1000.0)) AS b(band, lo, hi)
                  ON e.value >= b.lo AND e.value < b.hi
                GROUP BY band)
            SELECT 'cross' AS kind, r1.r_name AS name_a, r2.r_name AS name_b,
                   CAST(NULL AS BIGINT) AS n_events,
                   CAST(NULL AS DOUBLE) AS sum_value
            FROM region r1 CROSS JOIN region r2
            UNION ALL
            SELECT 'theta' AS kind, n1.n_name AS name_a, n2.n_name AS name_b,
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
            FROM nation n1 JOIN nation n2
              ON n1.n_regionkey = n2.n_regionkey
             AND n1.n_name < n2.n_name
            UNION ALL
            SELECT 'range_broadcast' AS kind, band AS name_a,
                   CAST(NULL AS VARCHAR) AS name_b, n_events, sum_value
            FROM banded
            UNION ALL
            SELECT 'range_bucketed' AS kind, band AS name_a,
                   CAST(NULL AS VARCHAR) AS name_b, n_events, sum_value
            FROM banded""",
        "j7_asof_join": """
            SELECT l.event_id, r.purchase_value
            FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                  FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN
                 (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                         value AS purchase_value
                  FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts""",
        "q3_shipping_priority": f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   {_MSUM_SQL.format(c='l_extendedprice * (1 - l_discount)')}
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        "q5_local_supplier": f"""
            SELECT n_name,
                   {_MSUM_SQL.format(c='l_extendedprice * (1 - l_discount)')}
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC""",
        "q10_returned_items": f"""
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   {_MSUM_SQL.format(c='l_extendedprice * (1 - l_discount)')}
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20""",
        "g1_groupby_agg": f"""
            SELECT l_returnflag, l_linestatus,
                   {_MSUM_SQL.format(c='l_quantity')} AS sum_qty,
                   {_MSUM_SQL.format(c='l_extendedprice')} AS sum_base_price,
                   {_MSUM_SQL.format(c='l_extendedprice * (1 - l_discount)')}
                       AS sum_disc_price,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND({_MSUM_SQL.format(c='l_quantity')} / COUNT(*), 6)
                       AS avg_qty
            FROM lineitem WHERE l_quantity < 50
            GROUP BY l_returnflag, l_linestatus""",
        "g2_distinct_count": """
            SELECT l_returnflag,
                   CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_status,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
            GROUP BY l_returnflag""",
        "g3_grouping_multi": f"""
            SELECT o_orderstatus, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   {_DSUM_SQL.format(c='o_totalprice')} AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), (o_orderpriority), ())""",
        "g5_filtered_pivot": """
            SELECT o_orderpriority,
                   CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                       AS n_finished,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                        FILTER (WHERE o_totalprice > 200000) AS DOUBLE)
                       AS high_value_total,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_open,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                        FILTER (WHERE o_orderstatus = 'O') AS DOUBLE)
                       AS total_open,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                        FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                       AS total_finished,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                        FILTER (WHERE o_orderstatus = 'P') AS DOUBLE)
                       AS total_pending
            FROM orders GROUP BY o_orderpriority""",
        "g6_percentiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
                   ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
            FROM lineitem GROUP BY l_returnflag""",
        "w_window_suite": """
            SELECT o_orderkey,
                   CAST(row_number() OVER w_rank AS INTEGER) AS rn,
                   CAST(rank() OVER w_rank AS INTEGER) AS rk,
                   CAST(dense_rank() OVER w_rank AS INTEGER) AS drk,
                   CAST(ntile(4) OVER w_rank AS INTEGER) AS quartile,
                   lag(o_totalprice) OVER w_time AS prev_price,
                   lead(o_totalprice) OVER w_time AS next_price,
                   first_value(o_totalprice) OVER w_full AS first_price,
                   last_value(o_totalprice) OVER w_full AS last_price,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER w_run
                        AS DOUBLE) AS running_total,
                   ROUND(percent_rank() OVER w_dist, 6) AS pct_rank,
                   ROUND(cume_dist() OVER w_dist, 6) AS cume,
                   CAST(COUNT(*) OVER w_range AS BIGINT) AS n_at_or_below
            FROM orders
            WINDOW w_rank AS (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey),
                   w_time AS (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey),
                   w_full AS (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING),
                   w_run AS (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING),
                   w_dist AS (PARTITION BY o_orderstatus
                              ORDER BY o_totalprice, o_orderkey),
                   w_range AS (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice
                               RANGE BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)""",
        "g8_array_agg": """
            SELECT r_name,
                   array_to_string(list_sort(list(n_name)), ',') AS nations,
                   CAST(COUNT(*) AS BIGINT) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "topk_suite": """
            SELECT * FROM (
                SELECT 'global' AS kind,
                       CAST(NULL AS VARCHAR) AS o_orderpriority,
                       o_orderkey, o_totalprice,
                       CAST(NULL AS INTEGER) AS rnk
                FROM orders
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
            UNION ALL
            SELECT 'group' AS kind, o_orderpriority, o_orderkey,
                   o_totalprice, CAST(rnk AS INTEGER) AS rnk
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_orderpriority
                                            ORDER BY o_totalprice DESC,
                                                     o_orderkey) AS rnk
                  FROM orders)
            WHERE rnk <= 3""",
        "set_operations": """
            SELECT 'union' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION SELECT s_nationkey FROM supplier)
            UNION ALL
            SELECT 'intersect' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT SELECT s_nationkey FROM supplier)
            UNION ALL
            SELECT 'except' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                EXCEPT SELECT s_nationkey FROM supplier
                       WHERE s_nationkey < 12)
            UNION ALL
            SELECT 'intersect_all' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT ALL SELECT s_nationkey FROM supplier)
            UNION ALL
            SELECT 'except_all' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                EXCEPT ALL SELECT s_nationkey FROM supplier
                           WHERE s_nationkey < 12)""",
        "udf_pandas_vectorized": """
            SELECT 'scalar' AS kind, CAST(event_id AS VARCHAR) AS key,
                   value * 0.5 + 1.0 AS val
            FROM events
            UNION ALL
            SELECT 'centroid', lang, ROUND(sqrt(SUM(avg_v * avg_v)), 6)
            FROM (SELECT lang, pos, AVG(v) AS avg_v
                  FROM (SELECT d.lang,
                               CAST(unnest(range(1, len(embedding) + 1))
                                    AS INTEGER) AS pos,
                               CAST(unnest(embedding) AS DOUBLE) AS v
                        FROM embeddings e
                        JOIN documents d ON e.vec_id = d.doc_id)
                  GROUP BY lang, pos)
            GROUP BY lang""",
        "x1_dedup_latest": """
            SELECT user_id, event_id, event_type, value FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) = 1""",
        "f_math_string": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 + l_tax) AS gross,
                   ROUND(l_quantity * 1.5, 1) AS qty_x15,
                   abs(l_discount - l_tax) AS abs_diff,
                   CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
                   CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
                   l_orderkey % 7 AS mod7,
                   p_brand || '#' || p_type AS brand_type,
                   upper(p_name) AS upper_name,
                   substring(p_name, 1, 8) AS prefix8,
                   CAST(length(p_name) AS INTEGER) AS name_len,
                   replace(p_name, ' ', '_') AS snake_name,
                   (p_name LIKE 'a%') AS starts_a
            FROM lineitem JOIN part ON l_partkey = p_partkey""",
        "f_datetime_json": """
            SELECT event_id,
                   CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS y,
                   CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS m,
                   CAST(day(CAST(ts AS TIMESTAMP)) AS INTEGER) AS d,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
                   strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS ym,
                   CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                       AS epoch_s,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS k_struct,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS k_tuple,
                   CASE WHEN value > 500 THEN 'big'
                        WHEN value > 100 THEN 'mid'
                        ELSE 'small' END AS bucket,
                   COALESCE(NULLIF(event_type, 'click'), 'non-click')
                       AS type_x
            FROM events""",
        "f_collections": """
            SELECT vec_id,
                   CAST(len(embedding) AS INTEGER) AS n_dims,
                   CAST(embedding[1] AS DOUBLE) AS first_val,
                   CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
                   ROUND(sqrt(list_aggregate(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6)
                       AS norm,
                   lang AS m_lang, CAST(2 AS INTEGER) AS n_entries,
                   'lang,source' AS keys_csv, source AS second_val,
                   CAST(unnest(range(1, len(embedding) + 1)) AS INTEGER)
                       AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings JOIN documents ON vec_id = doc_id
            WHERE vec_id < 50""",
        "st1_stream_exec": f"""
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND({dsum_v}, 2) AS sum_value
            FROM events GROUP BY 1""",
        "st3_window_agg": f"""
            SELECT 'tumbling' AS kind,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND({dsum_v}, 2) AS sum_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding' AS kind, window_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND({dsum_v}, 2) AS sum_value
            FROM (SELECT TIMESTAMP '1970-01-01 00:00:00'
                         + (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800)
                                 AS BIGINT) * 1800
                            - k.k * 1800) * INTERVAL 1 SECOND AS window_start,
                         event_type, value
                  FROM events CROSS JOIN (VALUES (0), (1)) k(k))
            GROUP BY 2, 3""",
        "st5_session": f"""
            WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                       FROM events),
            o AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                                   OR ts - lag(ts) OVER w
                                      >= INTERVAL 30 MINUTE
                                 THEN 1 ELSE 0 END AS is_new
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS seq
                  FROM o)
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND({dsum_v}, 2) AS sum_value
            FROM s GROUP BY user_id, seq""",
        "x3_topk_similarity": """
            WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                              list_dot_product(CAST(c.embedding AS DOUBLE[]), qv)
                              / (sqrt(list_dot_product(
                                     CAST(c.embedding AS DOUBLE[]),
                                     CAST(c.embedding AS DOUBLE[])))
                                 * sqrt(list_dot_product(qv, qv))) AS cos
                       FROM embeddings c CROSS JOIN q)
            SELECT 'cosine' AS mode, query_id, neighbor_id,
                   ROUND(cos, 6) AS score
            FROM scored
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) <= 10
            UNION ALL
            SELECT 'hardneg' AS mode, query_id, neighbor_id,
                   ROUND(cos, 6) AS score
            FROM scored
            WHERE neighbor_id <> query_id
              AND neighbor_id NOT IN (query_id + 1, query_id + 2)
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY ROUND(cos, 6) DESC,
                                                neighbor_id) <= 10
            UNION ALL ("""
            + _bm25_oracle_sql(0, "spark join order window")
            + ") UNION ALL ("
            + _bm25_oracle_sql(1, "merge sort key table scan")
            + ") UNION ALL (" + _rp_oracle_sql()
            + ") UNION ALL (" + _cbal_oracle_sql() + ")",
        "x2_dedup_clusters": _CLUSTERS_ORACLE,
        "x7_corpus_exact": f"""
            WITH RECURSIVE
            fp AS (SELECT doc_id,
                          md5(lower(regexp_replace(trim(text),
                                                   '\\s+', ' ', 'g'))) AS fp
                   FROM documents),
            keep0 AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
            d AS (SELECT doc_id, text FROM documents
                  WHERE doc_id IN (SELECT doc_id FROM keep0)),
            t AS (SELECT doc_id, {_TOKENS_SQL.format(c='text')} AS toks
                  FROM d),
            sh0 AS (SELECT doc_id, unnest(list_distinct(
                        CASE WHEN len(toks) < 3
                             THEN [array_to_string(toks, ' ')]
                             ELSE list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' '))
                        END)) AS sh
                    FROM t),
            sh2 AS (SELECT doc_id, sh FROM sh0 WHERE sh <> ''),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2
                      GROUP BY doc_id),
            common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                              COUNT(*) AS c
                       FROM sh2 a JOIN sh2 b USING (sh)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (SELECT id_a, id_b
                      FROM common
                      JOIN sizes sa ON sa.doc_id = id_a
                      JOIN sizes sb ON sb.doc_id = id_b
                      WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.4),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION
                      SELECT id_b AS src, id_a AS dst FROM pairs),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            losers AS (SELECT src AS doc_id FROM reach GROUP BY src
                       HAVING LEAST(src, MIN(dst)) <> src),
            nd AS (SELECT doc_id, text FROM d
                   WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
            lt AS (SELECT doc_id, text,
                          {_TOKENS_SQL.format(c='lower(text)')} AS ltoks
                   FROM nd),
            ls AS (SELECT doc_id, text,
                          len(list_filter(ltoks, x -> list_contains(
                              ['der','die','und','das','ist'], x))) AS s_de,
                          len(list_filter(ltoks, x -> list_contains(
                              ['the','and','of','to','is'], x))) AS s_en,
                          len(list_filter(ltoks, x -> list_contains(
                              ['el','la','que','los','es'], x))) AS s_es,
                          len(list_filter(ltoks, x -> list_contains(
                              ['le','les','des','est','une'], x))) AS s_fr
                   FROM lt),
            en AS (SELECT doc_id, text FROM ls
                   WHERE NOT regexp_matches(text, '[一-鿿]')
                     AND greatest(s_de, s_en, s_es, s_fr) > 0
                     AND s_en = greatest(s_de, s_en, s_es, s_fr)
                     AND s_de < greatest(s_de, s_en, s_es, s_fr)),
            q AS (SELECT doc_id, text,
                         length(regexp_replace(text, '\\s', '', 'g'))
                             AS nonspace,
                         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '',
                                               'g')) AS punct,
                         {_TOKENS_SQL.format(c='text')} AS toks,
                         length(text) AS n_chars
                  FROM en),
            scored AS (SELECT doc_id, text, toks,
                   ROUND(((CASE WHEN n_chars BETWEEN 20 AND 100000
                                THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN nonspace > 0 AND
                                  CAST(punct AS DOUBLE) / nonspace <= 0.3
                                  THEN 1.0
                                  WHEN nonspace = 0 THEN 1.0
                                  ELSE 0.0 END)
                          + (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE 0.0 END))
                         / 3.0, 6) AS q_score
                       FROM q),
            rg AS (SELECT doc_id, text, toks, q_score,
                          list_filter(CASE WHEN len(toks) < 3
                              THEN [array_to_string(toks, ' ')]
                              ELSE list_transform(range(1, len(toks) - 1),
                                       i -> array_to_string(toks[i:i+2],
                                                            ' '))
                          END, x -> x <> '') AS rsh
                   FROM scored WHERE q_score >= 0.5),
            repg AS (SELECT doc_id, text, toks, q_score FROM rg
                     WHERE (CASE WHEN len(rsh) > 0 THEN
                            ROUND(1.0 - CAST(len(list_distinct(rsh))
                                             AS DOUBLE) / len(rsh), 6)
                            ELSE 0.0 END) <= 0.5),
            tr AS (SELECT doc_id, toks, q_score FROM repg
                   WHERE doc_id % 10 < 8),
            ev AS (SELECT {_TOKENS_SQL.format(c='text')} AS toks
                   FROM documents WHERE doc_id % 10 >= 8),
            esh AS (SELECT DISTINCT sh FROM
                        (SELECT unnest({_SHINGLE5_SQL.format(t='toks')})
                             AS sh FROM ev)
                    WHERE sh <> ''),
            tsh AS (SELECT doc_id, sh FROM
                        (SELECT doc_id,
                                unnest({_SHINGLE5_SQL.format(t='toks')})
                                    AS sh FROM tr)
                    WHERE sh <> ''),
            hits AS (SELECT DISTINCT doc_id FROM tsh JOIN esh USING (sh)),
            -- ==== incr arms: staged incremental semantics ====
            ib AS (SELECT doc_id,
                          CASE WHEN doc_id % 10 = 2 THEN 2 ELSE 1 END
                              AS batch,
                          md5(lower(regexp_replace(trim(text), '\\s+',
                                                   ' ', 'g'))) AS fp,
                          {_TOKENS_SQL.format(c='text')} AS itoks
                   FROM documents WHERE doc_id % 10 < 3),
            ish AS MATERIALIZED (SELECT doc_id, sh FROM
                        (SELECT doc_id, unnest(list_distinct(
                            CASE WHEN len(itoks) < 3
                                 THEN [array_to_string(itoks, ' ')]
                                 ELSE list_transform(
                                     range(1, len(itoks) - 1),
                                     i -> array_to_string(itoks[i:i+2],
                                                          ' '))
                            END)) AS sh FROM ib)
                    WHERE sh <> ''),
            isz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM ish
                    GROUP BY doc_id),
            b1r AS MATERIALIZED (SELECT doc_id, fp,
                           ROW_NUMBER() OVER (PARTITION BY fp
                                              ORDER BY doc_id) AS rn
                    FROM ib WHERE batch = 1),
            b1v AS MATERIALIZED (SELECT doc_id,
                           CASE WHEN rn > 1 THEN 'exact_batch'
                                ELSE 'kept' END AS reason
                    FROM b1r),
            b1k AS MATERIALIZED (SELECT doc_id FROM b1v WHERE reason = 'kept'),
            b1fp AS MATERIALIZED (SELECT DISTINCT fp FROM ib
                     WHERE doc_id IN (SELECT doc_id FROM b1k)),
            b2r AS MATERIALIZED (SELECT doc_id, fp,
                           ROW_NUMBER() OVER (PARTITION BY fp
                                              ORDER BY doc_id) AS rn
                    FROM ib WHERE batch = 2),
            b2x AS MATERIALIZED (SELECT doc_id FROM b2r
                    WHERE fp NOT IN (SELECT fp FROM b1fp) AND rn = 1),
            ci AS (SELECT a.doc_id AS bid, b.doc_id AS iid,
                          COUNT(*) AS c
                   FROM ish a JOIN ish b USING (sh)
                   WHERE a.doc_id IN (SELECT doc_id FROM b2x)
                     AND b.doc_id IN (SELECT doc_id FROM b1k)
                   GROUP BY 1, 2),
            ni AS MATERIALIZED (SELECT DISTINCT bid AS doc_id FROM ci
                   JOIN isz sa ON sa.doc_id = bid
                   JOIN isz sb ON sb.doc_id = iid
                   WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
            b2v AS MATERIALIZED (SELECT doc_id,
                           CASE WHEN fp IN (SELECT fp FROM b1fp)
                                     THEN 'exact_index'
                                WHEN rn > 1 THEN 'exact_batch'
                                WHEN doc_id IN (SELECT doc_id FROM ni)
                                     THEN 'neardup_index'
                                ELSE 'kept' END AS reason
                    FROM b2r)
            SELECT 'full' AS tag, doc_id, q_score,
                   CAST(NULL AS VARCHAR) AS reason FROM tr
            WHERE doc_id NOT IN (SELECT doc_id FROM hits)
            UNION ALL
            SELECT 'incr_b1', doc_id, CAST(NULL AS DOUBLE), reason
            FROM b1v
            UNION ALL
            SELECT 'incr_b2', doc_id, CAST(NULL AS DOUBLE), reason
            FROM b2v
            UNION ALL
            SELECT 'incr_corpus', doc_id, CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR)
            FROM (SELECT doc_id FROM b1k
                  UNION ALL
                  SELECT doc_id FROM b2v WHERE reason = 'kept')""",
        "x8_corpus_utils": f"""
            SELECT 'vocab' AS kind, CAST(NULL AS BIGINT) AS doc_id,
                   n AS a, CAST(NULL AS BIGINT) AS b,
                   CAST(NULL AS BIGINT) AS c, token AS h
            FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
                  FROM (SELECT unnest({_TOKENS_SQL.format(c='text')})
                            AS token
                        FROM documents WHERE doc_id % 10 < 8)
                  GROUP BY token
                  ORDER BY n DESC, token LIMIT 200)
            UNION ALL
            SELECT 'pack' AS kind, doc_id, n_tokens AS a, shard AS b,
                   CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS c,
                   CAST(NULL AS VARCHAR) AS h
            FROM (SELECT doc_id, n_tokens, shard,
                         SUM(n_tokens) OVER (PARTITION BY shard
                                             ORDER BY doc_id) AS cum
                  FROM (SELECT doc_id,
                               CAST(len({_TOKENS_SQL.format(c='text')})
                                    AS BIGINT) AS n_tokens,
                               CAST(doc_id % 8 AS BIGINT) AS shard
                        FROM documents))
            UNION ALL
            SELECT 'bins' AS kind, doc_id, n_tokens AS a, shard AS b,
                   bin_id AS c,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                            PARTITION BY shard, bin_id ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                        AS VARCHAR) AS h
            FROM (WITH RECURSIVE nfbase AS (
                    SELECT doc_id, n_tokens, shard,
                           ROW_NUMBER() OVER (PARTITION BY shard
                                              ORDER BY doc_id) AS rn
                    FROM (SELECT doc_id,
                                 CAST(len({_TOKENS_SQL.format(c='text')})
                                      AS BIGINT) AS n_tokens,
                                 CAST(doc_id % 8 AS BIGINT) AS shard
                          FROM documents)),
                  nf AS (
                    SELECT shard, rn, doc_id, n_tokens,
                           CAST(0 AS BIGINT) AS bin_id,
                           n_tokens AS fill
                    FROM nfbase WHERE rn = 1
                    UNION ALL
                    SELECT nb.shard, nb.rn, nb.doc_id, nb.n_tokens,
                           CASE WHEN nf.fill > 0
                                     AND nf.fill + nb.n_tokens > 512
                                THEN nf.bin_id + 1 ELSE nf.bin_id END,
                           CASE WHEN nf.fill > 0
                                     AND nf.fill + nb.n_tokens > 512
                                THEN nb.n_tokens
                                ELSE nf.fill + nb.n_tokens END
                    FROM nf JOIN nfbase nb
                      ON nb.shard = nf.shard AND nb.rn = nf.rn + 1)
                  SELECT doc_id, n_tokens, shard, bin_id FROM nf)
            UNION ALL
            SELECT 'chunk', doc_id, CAST((s - 1) // 448 AS BIGINT),
                   CAST(s AS BIGINT),
                   CAST(length(substr(text, s, 512)) AS BIGINT),
                   md5(substr(text, s, 512))
            FROM (SELECT doc_id, text,
                         unnest(generate_series(
                             1, greatest(1, length(text)), 448)) AS s
                  FROM documents)
            UNION ALL
            SELECT 'mix', doc_id, CAST(sample_rank AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), lang
            FROM (WITH wts(lang, frac) AS (VALUES ('en', 0.25), ('de', 1.0),
                                                  ('es', 1.0), ('fr', 1.0),
                                                  ('zh', 0.5)),
                  r AS (SELECT doc_id, lang,
                               ROW_NUMBER() OVER (
                                   PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                            doc_id) AS sample_rank,
                               COUNT(*) OVER (PARTITION BY lang) AS n
                        FROM documents)
                  SELECT doc_id, lang, sample_rank
                  FROM r JOIN wts USING (lang)
                  WHERE sample_rank <= CEIL(frac * n))
            UNION ALL
            SELECT 'gsplit', doc_id, gid, CAST(gid % 10 AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CASE WHEN gid % 10 < 8 THEN 'train' ELSE 'eval' END
            FROM (SELECT doc_id,
                         MIN(doc_id) OVER (
                             PARTITION BY md5(lower(regexp_replace(
                                 trim(text), '\\s+', ' ', 'g')))) AS gid
                  FROM documents)
            UNION ALL
            SELECT 'tmix', doc_id, CAST(sample_rank AS BIGINT),
                   quota, CAST(NULL AS BIGINT), lang
            FROM (WITH sz AS (SELECT lang, COUNT(*) AS n FROM documents
                              GROUP BY lang),
                  q AS (SELECT lang, n,
                               CAST(LEAST(
                                   n,
                                   GREATEST(1, CEIL(ROUND(
                                       POW(CAST(n AS DOUBLE), 0.3)
                                       / SUM(POW(CAST(n AS DOUBLE), 0.3))
                                             OVER ()
                                       * SUM(n) OVER (), 6)))) AS BIGINT)
                                   AS quota
                        FROM sz),
                  r AS (SELECT doc_id, lang,
                               ROW_NUMBER() OVER (
                                   PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                            doc_id) AS sample_rank
                        FROM documents)
                  SELECT doc_id, lang, sample_rank, quota
                  FROM r JOIN q USING (lang)
                  WHERE sample_rank <= quota)
            UNION ALL
            SELECT 'rep', doc_id,
                   CAST(unnest(range(0, n_epochs)) AS BIGINT),
                   n_epochs, sample_rank, lang
            FROM (WITH em(lang, e) AS (VALUES ('en', 1.5), ('de', 2.0),
                                              ('zh', 0.0)),
                  r AS (SELECT doc_id, lang,
                               ROW_NUMBER() OVER (
                                   PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                            doc_id) AS sample_rank,
                               COUNT(*) OVER (PARTITION BY lang) AS n
                        FROM documents)
                  SELECT doc_id, lang, CAST(sample_rank AS BIGINT)
                             AS sample_rank,
                         CAST(FLOOR(COALESCE(e, 1.0))
                              + CASE WHEN sample_rank <=
                                       ROUND(ROUND(COALESCE(e, 1.0)
                                             - FLOOR(COALESCE(e, 1.0)),
                                             6) * n, 0)
                                     THEN 1 ELSE 0 END
                              AS BIGINT) AS n_epochs
                  FROM r LEFT JOIN em USING (lang))
            WHERE n_epochs > 0
            UNION ALL
            SELECT 'wmix', doc_id, CAST(sample_rank AS BIGINT),
                   CAST(cum_w AS BIGINT), CAST(n_chars AS BIGINT), lang
            FROM (WITH sz AS (SELECT lang,
                                     CAST(SUM(n_chars) AS DOUBLE) AS w
                              FROM documents GROUP BY lang),
                  q AS (SELECT lang,
                               ROUND(POW(w, 0.3)
                                     / SUM(POW(w, 0.3)) OVER ()
                                     * SUM(w) OVER (), 6) AS quota_w
                        FROM sz),
                  r AS (SELECT doc_id, lang, n_chars,
                               ROW_NUMBER() OVER (
                                   PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                            doc_id) AS sample_rank,
                               SUM(n_chars) OVER (
                                   PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                            doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_w
                        FROM documents)
                  SELECT doc_id, lang, n_chars, sample_rank, cum_w
                  FROM r JOIN q USING (lang)
                  WHERE cum_w - n_chars < quota_w OR sample_rank = 1)
            UNION ALL
            SELECT 'shuf', doc_id, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                           ORDER BY k, doc_id)
                        AS BIGINT),
                   CAST(NULL AS BIGINT), k
            FROM (SELECT doc_id, k,
                         CAST({_SHUF_SHARD_SQL} % 8 AS BIGINT) AS shard
                  FROM (SELECT doc_id,
                               md5('0:' || CAST(doc_id AS VARCHAR)) AS k
                        FROM documents))
            UNION ALL
            SELECT kind, CAST(NULL AS BIGINT), a, b, c, h
            FROM (WITH pd AS (
                    SELECT lang,
                           CAST(len({_TOKENS_SQL.format(c='text')})
                                AS BIGINT) AS tok,
                           CAST(length(text) AS BIGINT) AS nch,
                           md5(lower(regexp_replace(trim(text), '\\s+',
                                                    ' ', 'g'))) AS fp,
                           (CASE WHEN length(text) BETWEEN 20 AND 100000
                                 THEN 1 ELSE 0 END
                            + CASE WHEN length(regexp_replace(
                                       text, '\\s', '', 'g')) = 0 THEN 1
                                   WHEN CAST(length(regexp_replace(text,
                                            '[a-zA-Z0-9\\s]', '', 'g'))
                                            AS DOUBLE)
                                        / length(regexp_replace(
                                              text, '\\s', '', 'g'))
                                        <= 0.3 THEN 1 ELSE 0 END
                            + CASE WHEN len({_TOKENS_SQL.format(c='text')})
                                        >= 5
                                   THEN 1 ELSE 0 END) AS q3
                    FROM documents)
                  SELECT 'sheet' AS kind,
                         CAST(COUNT(*) AS BIGINT) AS a,
                         CAST(SUM(tok) AS BIGINT) AS b,
                         CAST(ROUND(ROUND(SUM(q3)
                                   / (3.0 * COUNT(*)), 6) * 1e6)
                              AS BIGINT) AS c,
                         lang AS h
                  FROM pd GROUP BY lang
                  UNION ALL
                  SELECT 'sheet2',
                         CAST(COUNT(DISTINCT fp) AS BIGINT),
                         CAST(SUM(nch) AS BIGINT),
                         CAST(ROUND(ROUND(quantile_cont(tok, 0.5), 6)
                                    * 1e6) AS BIGINT),
                         lang
                  FROM pd GROUP BY lang)
            UNION ALL
            SELECT 'jac', CAST(NULL AS BIGINT),
                   CAST(n_int AS BIGINT), CAST(n_uni AS BIGINT),
                   CAST(ROUND(ROUND(CAST(n_int AS DOUBLE) / n_uni, 6)
                              * 1e6) AS BIGINT),
                   CAST(n_a AS VARCHAR) || ':' || CAST(n_b AS VARCHAR)
            FROM (SELECT COUNT(*) FILTER (m = 3) AS n_int,
                         COUNT(*) AS n_uni,
                         COUNT(*) FILTER (m <> 2) AS n_a,
                         COUNT(*) FILTER (m <> 1) AS n_b
                  FROM (SELECT s, SUM(t) AS m
                        FROM (SELECT DISTINCT s, 1 AS t FROM
                               (SELECT unnest(list_filter(
                                  CASE WHEN len(toks) < 3
                                       THEN [array_to_string(toks, ' ')]
                                       ELSE list_transform(
                                           range(1, len(toks) - 1),
                                           i -> array_to_string(
                                               toks[i:i+2], ' '))
                                  END, x -> x <> '')) AS s
                                FROM (SELECT
                                        {_TOKENS_SQL.format(c='text')}
                                        AS toks FROM documents
                                      WHERE doc_id % 2 = 0))
                              UNION ALL
                              SELECT DISTINCT s, 2 AS t FROM
                               (SELECT unnest(list_filter(
                                  CASE WHEN len(toks) < 3
                                       THEN [array_to_string(toks, ' ')]
                                       ELSE list_transform(
                                           range(1, len(toks) - 1),
                                           i -> array_to_string(
                                               toks[i:i+2], ' '))
                                  END, x -> x <> '')) AS s
                                FROM (SELECT
                                        {_TOKENS_SQL.format(c='text')}
                                        AS toks FROM documents
                                      WHERE doc_id % 2 = 1)))
                        GROUP BY s))
            UNION ALL
            -- diff arm: snapshot changelog vs derived snapshot B
            -- (%11 removed, %7 edited, <20 re-added at +1000000)
            SELECT 'diff', COALESCE(fa.doc_id, fb.doc_id),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CASE WHEN fa.p IS NULL THEN 'added'
                        WHEN fb.p IS NULL THEN 'removed'
                        WHEN fa.f IS NOT DISTINCT FROM fb.f
                             THEN 'unchanged'
                        ELSE 'modified' END
            FROM (SELECT doc_id, 1 AS p,
                         MIN(md5(lower(regexp_replace(trim(text),
                                                  '\\s+', ' ', 'g')))) AS f
                  FROM documents GROUP BY doc_id) fa
            FULL OUTER JOIN (
                SELECT doc_id, 1 AS p,
                       MIN(md5(lower(regexp_replace(trim(text),
                                                '\\s+', ' ', 'g')))) AS f
                FROM (SELECT doc_id,
                             CASE WHEN doc_id % 7 = 0
                                  THEN text || ' edited v2'
                                  ELSE text END AS text
                      FROM documents WHERE doc_id % 11 <> 0
                      UNION ALL
                      SELECT doc_id + 1000000, text FROM documents
                      WHERE doc_id < 20)
                GROUP BY doc_id
            ) fb ON fa.doc_id = fb.doc_id
            UNION ALL
            -- tok/ids arms: BPE replay from the committed artifact.
            -- Per distinct word, symbols are sentinel-wrapped and the
            -- merge list applied one rank at a time (linear recursion;
            -- equivalent to the canonical rescan — see bpe_artifact),
            -- each application a left-to-right non-overlapping string
            -- replace, exactly the greedy all-occurrences rewrite.
            -- r9: input is the PLANTED messy text (digits/punctuation/
            -- multi-byte UTF-8), OOV symbols byte-expand arithmetically
            -- (hex pairs -> byte_base + value), and per-doc unk_rate
            -- is oracled in the tok rows' b column.
            SELECT kind, doc_id, a, b, c, h
            FROM (WITH RECURSIVE
                  btxt AS (
                    SELECT doc_id, {_X8_TOK_TEXT_SQL} AS text
                    FROM documents),
                  bwseed AS (
                    SELECT w,
                           chr(1) || array_to_string(
                               string_split(w, ''),
                               chr(2) || ' ' || chr(1))
                                  || chr(2) || ' ' || chr(1)
                                  || '</w>' || chr(2) AS s
                    FROM (SELECT DISTINCT unnest(
                              {_TOKENS_SQL.format(c='lower(text)')}) AS w
                          FROM btxt)),
                  benc AS (
                    SELECT w, 0 AS rk, s FROM bwseed
                    UNION ALL
                    SELECT e.w, e.rk + 1, replace(e.s, m.pat, m.rep)
                    FROM benc e
                    JOIN (SELECT * FROM ({_BPE_MERGES_SQL})
                          t(rk, pat, rep)) m ON m.rk = e.rk),
                  bencw AS (
                    SELECT w, replace(replace(s, chr(1), ''),
                                      chr(2), '') AS symstr, s
                    FROM benc WHERE rk = {_BPE_NM}),
                  bwtok AS (
                    SELECT w,
                           unnest(range(1, len(string_split(s, ' '))
                                           + 1)) AS p,
                           unnest(list_transform(
                               string_split(s, ' '),
                               t -> replace(replace(t, chr(1), ''),
                                            chr(2), ''))) AS tok
                    FROM bencw),
                  bwids AS (
                    SELECT w,
                           string_agg(
                               CASE WHEN v.id IS NOT NULL
                                    THEN CAST(v.id AS VARCHAR)
                                    ELSE {_bpe_fallback_idstr_duckdb(
                                        'bwtok.tok')} END,
                               ',' ORDER BY p) AS idstr,
                           CAST(SUM(CASE WHEN v.id IS NOT NULL THEN 1
                                    ELSE octet_length(encode(bwtok.tok))
                                    END) AS BIGINT) AS ntok,
                           CAST(SUM(CASE WHEN v.id IS NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS noov,
                           CAST(COUNT(*) AS BIGINT) AS nsym
                    FROM bwtok
                    LEFT JOIN (SELECT * FROM ({_BPE_VOCAB_SQL})
                               t(tok, id)) v ON v.tok = bwtok.tok
                    GROUP BY w),
                  bdocw AS (
                    SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
                           unnest(toks) AS w
                    FROM (SELECT doc_id,
                                 {_TOKENS_SQL.format(c='lower(text)')}
                                     AS toks
                          FROM btxt)),
                  bdids0 AS (
                    SELECT d.doc_id,
                           string_agg(wi.idstr, ',' ORDER BY d.p) AS ids,
                           string_agg(e.symstr, ' ' ORDER BY d.p) AS syms,
                           CAST(SUM(wi.ntok) AS BIGINT) AS n_tokens,
                           CAST(SUM(wi.noov) AS BIGINT) AS noov,
                           CAST(SUM(wi.nsym) AS BIGINT) AS nsym
                    FROM bdocw d
                    JOIN bwids wi ON wi.w = d.w
                    JOIN bencw e ON e.w = d.w
                    GROUP BY d.doc_id),
                  -- row-preserving: a NULL/empty/whitespace-only doc
                  -- has NO word rows and would vanish from bdids0,
                  -- while the Spark arm emits (0 tokens, md5('')) and
                  -- an empty id-stream segment — LEFT JOIN from
                  -- documents keeps the two engines aligned if the
                  -- fixture ever grows such a doc (same defect class
                  -- as the null-safe anomaly-oracle fix)
                  bdids AS (
                    SELECT d.doc_id, COALESCE(b.ids, '') AS ids,
                           COALESCE(b.syms, '') AS syms,
                           COALESCE(b.n_tokens, 0) AS n_tokens,
                           COALESCE(b.noov, 0) AS noov,
                           COALESCE(b.nsym, 0) AS nsym
                    FROM documents d LEFT JOIN bdids0 b USING (doc_id)),
                  bnfb AS (
                    SELECT doc_id, n_tokens,
                           CAST(doc_id % 8 AS BIGINT) AS shard,
                           ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                              ORDER BY doc_id) AS rn
                    FROM bdids),
                  bnf AS (
                    SELECT shard, rn, doc_id, n_tokens,
                           CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
                    FROM bnfb WHERE rn = 1
                    UNION ALL
                    SELECT nb.shard, nb.rn, nb.doc_id, nb.n_tokens,
                           CASE WHEN nf.fill > 0
                                     AND nf.fill + nb.n_tokens > 1024
                                THEN nf.bin_id + 1 ELSE nf.bin_id END,
                           CASE WHEN nf.fill > 0
                                     AND nf.fill + nb.n_tokens > 1024
                                THEN nb.n_tokens
                                ELSE nf.fill + nb.n_tokens END
                    FROM bnf nf JOIN bnfb nb
                      ON nb.shard = nf.shard AND nb.rn = nf.rn + 1),
                  -- rtok arm (r10): raw-mode replay. Pieces = one
                  -- whitespace char OR a maximal non-whitespace run
                  -- (the raw pretokenizer); words replay the merge
                  -- recursion WITHOUT the end-of-word marker and with
                  -- case preserved; whitespace pieces byte-expand
                  -- directly (always out-of-vocab by design). The
                  -- Spark arm's b column asserts decode(encode(x))==x
                  -- per doc; the oracle emits constant 1 so the value
                  -- check fails if the law breaks anywhere.
                  rtxt AS (
                    SELECT doc_id, {_X8_RAW_TEXT_SQL} AS text
                    FROM documents),
                  rpiece AS (
                    SELECT doc_id, unnest(range(1, len(ps) + 1)) AS p,
                           unnest(ps) AS pc
                    FROM (SELECT doc_id,
                                 regexp_extract_all(
                                     text, {_RAW_PIECE_PAT}) AS ps
                          FROM rtxt)),
                  rpiecef AS (
                    SELECT doc_id, p, pc,
                           (pc IN (' ', chr(9), chr(10), chr(11),
                                   chr(12), chr(13))) AS is_ws
                    FROM rpiece),
                  rwseed AS (
                    SELECT w,
                           chr(1) || array_to_string(
                               string_split(w, ''),
                               chr(2) || ' ' || chr(1))
                                  || chr(2) AS s
                    FROM (SELECT DISTINCT pc AS w FROM rpiecef
                          WHERE NOT is_ws)),
                  renc AS (
                    SELECT w, 0 AS rk, s FROM rwseed
                    UNION ALL
                    SELECT e.w, e.rk + 1, replace(e.s, m.pat, m.rep)
                    FROM renc e
                    JOIN (SELECT * FROM ({_BPE_MERGES_SQL})
                          t(rk, pat, rep)) m ON m.rk = e.rk),
                  rwtok AS (
                    SELECT w,
                           unnest(range(1, len(string_split(s, ' '))
                                           + 1)) AS p,
                           unnest(list_transform(
                               string_split(s, ' '),
                               t -> replace(replace(t, chr(1), ''),
                                            chr(2), ''))) AS tok
                    FROM renc WHERE rk = {_BPE_NM}),
                  rwids AS (
                    SELECT w,
                           string_agg(
                               CASE WHEN v.id IS NOT NULL
                                    THEN CAST(v.id AS VARCHAR)
                                    ELSE {_bpe_fallback_idstr_duckdb(
                                        'rwtok.tok')} END,
                               ',' ORDER BY p) AS idstr,
                           CAST(SUM(CASE WHEN v.id IS NOT NULL THEN 1
                                    ELSE octet_length(encode(rwtok.tok))
                                    END) AS BIGINT) AS ntok,
                           CAST(SUM(CASE WHEN v.id IS NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS noov,
                           CAST(COUNT(*) AS BIGINT) AS nsym
                    FROM rwtok
                    LEFT JOIN (SELECT * FROM ({_BPE_VOCAB_SQL})
                               t(tok, id)) v ON v.tok = rwtok.tok
                    GROUP BY w),
                  rdoc0 AS (
                    SELECT pp.doc_id,
                           string_agg(
                               CASE WHEN pp.is_ws
                                    THEN {_bpe_fallback_idstr_duckdb(
                                        'pp.pc')}
                                    ELSE wi.idstr END,
                               ',' ORDER BY pp.p) AS ids,
                           CAST(SUM(CASE WHEN pp.is_ws THEN 1
                                    ELSE wi.ntok END) AS BIGINT)
                               AS n_tokens,
                           CAST(SUM(CASE WHEN pp.is_ws THEN 1
                                    ELSE wi.noov END) AS BIGINT)
                               AS noov,
                           CAST(SUM(CASE WHEN pp.is_ws THEN 1
                                    ELSE wi.nsym END) AS BIGINT)
                               AS nsym
                    FROM rpiecef pp
                    LEFT JOIN rwids wi
                      ON NOT pp.is_ws AND wi.w = pp.pc
                    GROUP BY pp.doc_id),
                  rdoc AS (
                    SELECT d.doc_id, COALESCE(b.ids, '') AS ids,
                           COALESCE(b.n_tokens, 0) AS n_tokens,
                           COALESCE(b.noov, 0) AS noov,
                           COALESCE(b.nsym, 0) AS nsym
                    FROM documents d LEFT JOIN rdoc0 b USING (doc_id)),
                  -- atok arm (r10): the raw-service artifact replay.
                  -- Attached pretokens (a word carries its leading
                  -- whitespace run; a trailing run stands alone), the
                  -- raw merge list applied rank-by-rank with chr(3)
                  -- as the inter-symbol separator — a symbol can BE
                  -- a space now, so the normalized replay's
                  -- space-separator would split inside symbols.
                  apiece AS (
                    SELECT doc_id, unnest(range(1, len(ps) + 1)) AS p,
                           unnest(ps) AS pc
                    FROM (SELECT doc_id,
                                 regexp_extract_all(
                                     {_X8_RAW_TEXT_SQL},
                                     '[' || {_RAW_WS_SQL} || ']*[^'
                                         || {_RAW_WS_SQL} || ']+|['
                                         || {_RAW_WS_SQL} || ']+')
                                     AS ps
                          FROM documents)),
                  awseed AS (
                    SELECT w,
                           chr(1) || array_to_string(
                               string_split(w, ''),
                               chr(2) || chr(3) || chr(1))
                                  || chr(2) AS s
                    FROM (SELECT DISTINCT pc AS w FROM apiece)),
                  aenc AS (
                    SELECT w, 0 AS rk, s FROM awseed
                    UNION ALL
                    SELECT e.w, e.rk + 1, replace(e.s, m.pat, m.rep)
                    FROM aenc e
                    JOIN (SELECT * FROM ({_BPE_RAW_MERGES_SQL})
                          t(rk, pat, rep)) m ON m.rk = e.rk),
                  awtok AS (
                    SELECT w,
                           unnest(range(1, len(string_split(s, chr(3)))
                                           + 1)) AS p,
                           unnest(list_transform(
                               string_split(s, chr(3)),
                               t -> replace(replace(t, chr(1), ''),
                                            chr(2), ''))) AS tok
                    FROM aenc WHERE rk = {_BPE_RAW_NM}),
                  awids AS (
                    SELECT w,
                           string_agg(
                               CASE WHEN v.id IS NOT NULL
                                    THEN CAST(v.id AS VARCHAR)
                                    ELSE {_bpe_fallback_idstr_duckdb(
                                        'awtok.tok',
                                        _BPE_RAW_BYTE_BASE)} END,
                               ',' ORDER BY p) AS idstr,
                           CAST(SUM(CASE WHEN v.id IS NOT NULL THEN 1
                                    ELSE octet_length(encode(awtok.tok))
                                    END) AS BIGINT) AS ntok,
                           CAST(SUM(CASE WHEN v.id IS NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS noov,
                           CAST(COUNT(*) AS BIGINT) AS nsym
                    FROM awtok
                    LEFT JOIN (SELECT * FROM ({_BPE_RAW_VOCAB_SQL})
                               t(tok, id)) v ON v.tok = awtok.tok
                    GROUP BY w),
                  adoc0 AS (
                    SELECT pp.doc_id,
                           string_agg(wi.idstr, ',' ORDER BY pp.p)
                               AS ids,
                           CAST(SUM(wi.ntok) AS BIGINT) AS n_tokens,
                           CAST(SUM(wi.noov) AS BIGINT) AS noov,
                           CAST(SUM(wi.nsym) AS BIGINT) AS nsym
                    FROM apiece pp JOIN awids wi ON wi.w = pp.pc
                    GROUP BY pp.doc_id),
                  adoc AS (
                    SELECT d.doc_id, COALESCE(b.ids, '') AS ids,
                           COALESCE(b.n_tokens, 0) AS n_tokens,
                           COALESCE(b.noov, 0) AS noov,
                           COALESCE(b.nsym, 0) AS nsym
                    FROM documents d LEFT JOIN adoc0 b USING (doc_id)),
                  -- btok arm (r11): GPT-2-style byte-level replay.
                  -- Same attached pretokens (apiece) but each word
                  -- seeds as its bytes_to_unicode-REMAPPED byte
                  -- symbols — the remap recomputed arithmetically
                  -- per byte — then the byte-level merge recursion.
                  -- The vocab join is INNER: every symbol must be in
                  -- vocab (the no-OOV law), so a miss drops a token
                  -- and value-fails the arm instead of escaping.
                  blseed AS (
                    SELECT w,
                           chr(1) || array_to_string(
                               list_transform(
                                   range(1, octet_length(encode(w))
                                            + 1),
                                   i -> {_BL_REMAP_SQL}),
                               chr(2) || chr(3) || chr(1))
                                  || chr(2) AS s
                    FROM (SELECT DISTINCT pc AS w FROM apiece)),
                  blenc AS (
                    SELECT w, 0 AS rk, s FROM blseed
                    UNION ALL
                    SELECT e.w, e.rk + 1, replace(e.s, m.pat, m.rep)
                    FROM blenc e
                    JOIN (SELECT * FROM ({_BPE_BL_MERGES_SQL})
                          t(rk, pat, rep)) m ON m.rk = e.rk),
                  blwids AS (
                    SELECT w,
                           string_agg(CAST(v.id AS VARCHAR),
                                      ',' ORDER BY p) AS idstr,
                           CAST(COUNT(*) AS BIGINT) AS ntok
                    FROM (SELECT w,
                                 unnest(range(1,
                                     len(string_split(s, chr(3)))
                                        + 1)) AS p,
                                 unnest(list_transform(
                                     string_split(s, chr(3)),
                                     t -> replace(replace(t, chr(1),
                                                          ''),
                                                  chr(2), ''))) AS tok
                          FROM blenc WHERE rk = {_BPE_BL_NM}) blwtok
                    JOIN (SELECT * FROM ({_BPE_BL_VOCAB_SQL})
                          t(tok, id)) v ON v.tok = blwtok.tok
                    GROUP BY w),
                  bldoc AS (
                    SELECT d.doc_id, COALESCE(b.ids, '') AS ids,
                           COALESCE(b.n_tokens, 0) AS n_tokens
                    FROM documents d LEFT JOIN (
                      SELECT pp.doc_id,
                             string_agg(wi.idstr, ',' ORDER BY pp.p)
                                 AS ids,
                             CAST(SUM(wi.ntok) AS BIGINT) AS n_tokens
                      FROM apiece pp JOIN blwids wi ON wi.w = pp.pc
                      GROUP BY pp.doc_id) b USING (doc_id)),
                  -- blk arm (r10): token-grain replay of
                  -- pack_token_blocks — append the reserved EOS id to
                  -- each doc's id stream, lay streams out per shard
                  -- in doc-id order, assign every id its global
                  -- stream position, chunk every {_X8_BLK_LEN}, drop
                  -- the trailing partial block. The Spark side never
                  -- touches token grain (doc-grain slices only); the
                  -- oracle checks it AT token grain.
                  blkdoc AS (
                    SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
                           CASE WHEN ids = '' THEN '{_BPE_EOS_ID}'
                                ELSE ids || ',{_BPE_EOS_ID}' END
                               AS eids,
                           n_tokens + 1 AS n
                    FROM bdids),
                  blkoff AS (
                    SELECT doc_id, shard, eids,
                           SUM(n) OVER (PARTITION BY shard
                                        ORDER BY doc_id) - n AS s
                    FROM blkdoc),
                  blktok AS (
                    SELECT doc_id, shard, s,
                           (s + p - 1) // {_X8_BLK_LEN} AS block_id,
                           s + p - 1 AS pos, tok
                    FROM (SELECT doc_id, shard, s,
                                 unnest(range(1,
                                     len(string_split(eids, ',')) + 1))
                                     AS p,
                                 unnest(string_split(eids, ',')) AS tok
                          FROM blkoff)),
                  blkg AS (
                    SELECT shard, block_id,
                           CAST(COUNT(*) AS BIGINT) AS nt,
                           CAST(COUNT(DISTINCT doc_id) AS BIGINT)
                               AS ndocs,
                           md5(string_agg(tok, ',' ORDER BY pos)) AS h
                    FROM blktok GROUP BY shard, block_id),
                  -- pos arm (r11): token-grain replay of
                  -- block_positions — a token at global stream pos p
                  -- in block b of a doc starting at s has position id
                  -- p - greatest(s, b*L) (reset at each span start),
                  -- and its sequence id is the doc's span ordinal in
                  -- block order (dense rank by stream start).
                  posg AS (
                    SELECT shard, block_id,
                           CAST(COUNT(*) AS BIGINT) AS nt,
                           md5(string_agg(
                                   CAST(pos - greatest(
                                       s, block_id * {_X8_BLK_LEN})
                                       AS VARCHAR),
                                   ',' ORDER BY pos)
                               || '|' ||
                               string_agg(CAST(dr - 1 AS VARCHAR),
                                          ',' ORDER BY pos)) AS h
                    FROM (SELECT shard, block_id, pos, s,
                                 DENSE_RANK() OVER (
                                     PARTITION BY shard, block_id
                                     ORDER BY s) AS dr
                          FROM blktok)
                    GROUP BY shard, block_id),
                  -- lmask arm (r12): block_loss_mask replay — a token
                  -- at global stream pos p of a doc starting at s
                  -- trains iff its within-doc offset p - s is at or
                  -- past the doc's planted prompt length (doc_id % 7
                  -- when doc_id % 3 != 0, else no prompt -> 0)
                  lmaskg AS (
                    SELECT shard, block_id,
                           CAST(COUNT(*) AS BIGINT) AS nt,
                           CAST(SUM(fl) AS BIGINT) AS c,
                           md5(string_agg(CAST(fl AS VARCHAR),
                                          ',' ORDER BY pos)) AS h
                    FROM (SELECT shard, block_id, pos,
                                 CASE WHEN (pos - s) >=
                                      (CASE WHEN doc_id % 3 <> 0
                                            THEN doc_id % 7
                                            ELSE 0 END)
                                      THEN 1 ELSE 0 END AS fl
                          FROM blktok)
                    GROUP BY shard, block_id),
                  -- eshuf arm (r11): reshuffle_blocks replay — the
                  -- SAME md5 epoch key ('seed:epoch:shard:block') and
                  -- hex-prefix shard expression the operator runs,
                  -- then a per-training-shard row_number
                  eshufs AS (
                    SELECT shard, block_id, k,
                           CAST({_hexlong('k')} % 4 AS BIGINT) AS ts
                    FROM (SELECT shard, block_id,
                                 md5('1:2:' || CAST(shard AS VARCHAR)
                                     || ':'
                                     || CAST(block_id AS VARCHAR)) AS k
                          FROM blkg WHERE nt = {_X8_BLK_LEN}))
                  SELECT 'tok' AS kind, doc_id, n_tokens AS a,
                         -- unk_rate micro-units: round6 of noov/nsym
                         -- (0.0 for symbol-less docs), then * 1e6 and
                         -- round — the Spark arm's exact op sequence
                         CASE WHEN nsym > 0
                              THEN CAST(ROUND(ROUND(CAST(noov AS DOUBLE)
                                                    / nsym, 6) * 1000000)
                                        AS BIGINT)
                              ELSE 0 END AS b,
                         CAST(NULL AS BIGINT) AS c, md5(syms) AS h
                  FROM bdids
                  UNION ALL
                  SELECT 'ids', CAST(NULL AS BIGINT), nf.shard,
                         nf.bin_id, CAST(SUM(nf.n_tokens) AS BIGINT),
                         md5(string_agg(d.ids, ',' ORDER BY nf.doc_id))
                  FROM bnf nf JOIN bdids d USING (doc_id)
                  GROUP BY nf.shard, nf.bin_id
                  UNION ALL
                  SELECT 'blk', CAST(NULL AS BIGINT), shard, block_id,
                         ndocs, h
                  FROM blkg WHERE nt = {_X8_BLK_LEN}
                  UNION ALL
                  SELECT 'pos', CAST(NULL AS BIGINT), shard, block_id,
                         CAST(NULL AS BIGINT), h
                  FROM posg WHERE nt = {_X8_BLK_LEN}
                  UNION ALL
                  SELECT 'lmask', CAST(NULL AS BIGINT), shard,
                         block_id, c, h
                  FROM lmaskg WHERE nt = {_X8_BLK_LEN}
                  UNION ALL
                  SELECT 'eshuf', CAST(NULL AS BIGINT), shard,
                         block_id, ts,
                         CAST(ROW_NUMBER() OVER (
                             PARTITION BY ts
                             ORDER BY k, shard, block_id) AS VARCHAR)
                  FROM eshufs
                  UNION ALL
                  -- rblk: the incremental resume path must merge to
                  -- EXACTLY the full repack (law), so its oracle is
                  -- the same replay without the drop-last filter
                  SELECT 'rblk', CAST(NULL AS BIGINT), shard,
                         block_id, ndocs, h
                  FROM blkg
                  UNION ALL
                  -- fert arm (r10): tokenizer fertility per language
                  -- over the same derived text + id counts as tok
                  SELECT 'fert', CAST(NULL AS BIGINT), ttok, tbytes,
                         CASE WHEN ttok > 0
                              THEN CAST(ROUND(ROUND(CAST(tchars AS
                                                         DOUBLE)
                                                    / ttok, 6)
                                              * 1000000) AS BIGINT)
                              END,
                         lang
                  FROM (SELECT d.lang,
                               CAST(SUM(b.n_tokens) AS BIGINT) AS ttok,
                               CAST(SUM(length({_X8_TOK_TEXT_SQL}))
                                    AS BIGINT) AS tchars,
                               CAST(SUM(octet_length(encode(
                                   {_X8_TOK_TEXT_SQL}))) AS BIGINT)
                                   AS tbytes
                        FROM documents d
                        JOIN bdids b USING (doc_id)
                        GROUP BY d.lang)
                  UNION ALL
                  SELECT 'rtok', doc_id, n_tokens AS a,
                         CAST(1 AS BIGINT) AS b,
                         CASE WHEN nsym > 0
                              THEN CAST(ROUND(ROUND(CAST(noov AS DOUBLE)
                                                    / nsym, 6) * 1000000)
                                        AS BIGINT)
                              ELSE 0 END AS c,
                         md5(ids) AS h
                  FROM rdoc
                  UNION ALL
                  SELECT 'atok', doc_id, n_tokens AS a,
                         CAST(1 AS BIGINT) AS b,
                         CASE WHEN nsym > 0
                              THEN CAST(ROUND(ROUND(CAST(noov AS DOUBLE)
                                                    / nsym, 6) * 1000000)
                                        AS BIGINT)
                              ELSE 0 END AS c,
                         md5(ids) AS h
                  FROM adoc
                  UNION ALL
                  -- byte-level: round-trip flag must be 1 and the
                  -- escape rate must be IDENTICALLY 0 — no-OOV law
                  SELECT 'btok', doc_id, n_tokens AS a,
                         CAST(1 AS BIGINT) AS b,
                         CAST(0 AS BIGINT) AS c,
                         md5(ids) AS h
                  FROM bldoc)""",
        "s_sink_suite": f"""
            SELECT 'sink' AS kind,
                   CAST(year(ts) AS BIGINT) AS a,
                   CAST(month(ts) AS BIGINT) AS b,
                   CAST(day(ts) AS BIGINT) AS c,
                   CAST(hour(ts) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
                   {_MSUM_SQL.format(c='value')} AS val
            FROM events GROUP BY 2, 3, 4, 5
            UNION ALL
            SELECT 'upsert' AS kind, CAST(event_id AS BIGINT) AS a,
                   CAST(user_id AS BIGINT) AS b, CAST(NULL AS BIGINT) AS c,
                   CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS n_rows,
                   CAST(NULL AS BIGINT) AS n_ids, val
            FROM (
                WITH t AS (SELECT event_id, user_id, value FROM events
                           WHERE event_id % 2 = 0),
                     u AS (SELECT event_id, user_id,
                                  ROUND(value * 2, 6) AS value FROM events
                           WHERE event_id % 4 = 0
                              OR (event_id % 2 = 1 AND user_id < 10))
                SELECT event_id, user_id, ROUND(value, 6) AS val FROM u
                UNION ALL
                SELECT event_id, user_id, ROUND(value, 6) AS val FROM t
                WHERE event_id NOT IN (SELECT event_id FROM u))""",
        "q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey,
                   CAST(o_orderdate AS DATE) AS o_date, o_totalprice,
                   (CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT))
                         AS DOUBLE) / 10000.0) AS total_qty
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey
                HAVING SUM(CAST(round(l_quantity * 10000) AS BIGINT))
                       > 1500000)
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate,
                     o_totalprice
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100""",
        "st6_stateful": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)
                       / 10000.0 AS sum_value
            FROM events GROUP BY user_id""",
        "st9_stream_dedup": """
            SELECT event_id, ts, user_id, event_type,
                   ROUND(value, 6) AS value
            FROM events""",
        "st8_stream_join": """
            SELECT a.event_id AS l_event_id, b.event_id AS r_event_id,
                   a.user_id AS user_id, a.ts AS l_ts, b.ts AS r_ts,
                   ROUND(a.value + b.value, 6) AS funnel_value
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""",
        "x13_lm_score": f"""
            WITH toks AS (SELECT doc_id,
                                 {_TOKENS_SQL.format(c='text')} AS t
                          FROM documents),
            bg AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(t)),
                              i -> {{'w1': t[i], 'w2': t[i+1]}})) AS b
                   FROM toks WHERE len(t) >= 2),
            flat AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
            c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM flat
                    GROUP BY w1, w2),
            c1 AS (SELECT w1, COUNT(*) AS c1 FROM flat GROUP BY w1),
            v AS (SELECT COUNT(DISTINCT w) AS v
                  FROM (SELECT unnest(t) AS w FROM toks)),
            lp AS (SELECT f.doc_id,
                          round(log2((COALESCE(c12.c12, 0) + 0.5)
                                     / (COALESCE(c1.c1, 0) + 0.5 * v.v)),
                                6) AS lp
                   FROM flat f
                   LEFT JOIN c12 USING (w1, w2)
                   LEFT JOIN c1 USING (w1)
                   CROSS JOIN v)
            , lmsc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                   (CAST(SUM(CAST(round(lp * 1000000) AS BIGINT)) AS DOUBLE)
                    / (COUNT(*) * 1000000.0)) AS score
                   FROM lp GROUP BY doc_id),
            qth AS (SELECT round(quantile_cont(score, 0.25), 6) AS q1,
                           round(quantile_cont(score, 0.75), 6) AS q2
                    FROM lmsc),
            -- lbucket arm: the SAME cut PER LANGUAGE (the actual CCNet
            -- discipline) — thresholds one row per lang, joined back
            lqth AS (SELECT d.lang,
                            round(quantile_cont(score, 0.25), 6) AS q1,
                            round(quantile_cont(score, 0.75), 6) AS q2
                     FROM lmsc JOIN documents d USING (doc_id)
                     GROUP BY d.lang),
            -- DSIR arm: a SECOND bigram LM trained on the en
            -- sub-corpus only, scoring ALL docs; weight = log-ratio
            -- vs the self-model, keep = top 25% by exact percentile
            en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
            tc12 AS (SELECT w1, w2, COUNT(*) AS c12
                     FROM flat JOIN en USING (doc_id)
                     GROUP BY w1, w2),
            tc1 AS (SELECT w1, COUNT(*) AS c1
                    FROM flat JOIN en USING (doc_id) GROUP BY w1),
            tv AS (SELECT COUNT(DISTINCT w) AS v
                   FROM (SELECT unnest(t) AS w
                         FROM toks JOIN en USING (doc_id))),
            tlp AS (SELECT f.doc_id,
                           round(log2((COALESCE(tc12.c12, 0) + 0.5)
                                      / (COALESCE(tc1.c1, 0)
                                         + 0.5 * tv.v)), 6) AS lp
                    FROM flat f
                    LEFT JOIN tc12 USING (w1, w2)
                    LEFT JOIN tc1 USING (w1)
                    CROSS JOIN tv),
            tsc AS (SELECT doc_id,
                   (CAST(SUM(CAST(round(lp * 1000000) AS BIGINT)) AS DOUBLE)
                    / (COUNT(*) * 1000000.0)) AS tscore
                    FROM tlp GROUP BY doc_id),
            wts AS (SELECT l.doc_id,
                           round(t.tscore - l.score, 6) AS w
                    FROM lmsc l JOIN tsc t USING (doc_id)),
            wth AS (SELECT round(quantile_cont(w, 0.75), 6) AS th
                    FROM wts)
            SELECT 'lm' AS tag, doc_id, n, score FROM lmsc
            UNION ALL
            SELECT concat('bucket_',
                          CASE WHEN score < q1 THEN 'tail'
                               WHEN score < q2 THEN 'middle'
                               ELSE 'head' END) AS tag,
                   doc_id, CAST(NULL AS BIGINT) AS n, score
            FROM lmsc CROSS JOIN qth
            UNION ALL
            -- X14: fastText-style hashed linear classifier, committed
            -- weights in 1e-6 micro-units, exact integer logit sum.
            SELECT 'fasttext' AS tag, doc_id,
                   CAST(len(t) AS BIGINT) AS n,
                   round(1.0 / (1.0 + exp(-(CASE WHEN len(t) > 0
                       THEN CAST(list_aggregate(list_transform(t,
                            tok -> ({_QW_SQL})[
                                CAST(CAST(concat('0x',
                                         substr(md5(tok), 1, 8))
                                     AS UBIGINT) % {_QW_B} AS INT) + 1]),
                            'sum') AS DOUBLE) / (len(t) * 1000000.0)
                       ELSE 0.0 END))), 6) AS score
            FROM toks
            UNION ALL
            SELECT concat('dsir_', CASE WHEN w >= th THEN 'keep'
                                        ELSE 'drop' END) AS tag,
                   doc_id, CAST(NULL AS BIGINT) AS n, w AS score
            FROM wts CROSS JOIN wth
            UNION ALL
            SELECT concat('lbucket_', d.lang, '_',
                          CASE WHEN score < lq.q1 THEN 'tail'
                               WHEN score < lq.q2 THEN 'middle'
                               ELSE 'head' END) AS tag,
                   l.doc_id, CAST(NULL AS BIGINT) AS n, score
            FROM lmsc l JOIN documents d USING (doc_id)
            JOIN lqth lq ON d.lang = lq.lang""",
        "x12_segment_dedup": f"""
            WITH toks AS (SELECT doc_id,
                                 {_TOKENS_SQL.format(c='text')} AS t
                          FROM documents),
            segs AS (SELECT doc_id,
                            unnest(list_transform(
                                range(0, cast(ceil(len(t) / 10.0)
                                              AS BIGINT)),
                                i -> {{'idx': i,
                                      'seg': array_to_string(
                                          t[i*10+1 : i*10+10], ' ')}}))
                              AS s
                     FROM toks WHERE len(t) > 0),
            flat AS (SELECT doc_id, s.idx AS seg_idx, s.seg AS seg
                     FROM segs),
            firsts AS (SELECT doc_id, seg_idx, seg,
                              ROW_NUMBER() OVER (
                                  PARTITION BY md5(seg)
                                  ORDER BY doc_id, seg_idx) AS rn
                       FROM flat),
            wins AS (SELECT doc_id,
                            unnest(list_transform(
                                range(1, len(t) - 8 + 2),
                                i -> {{'p': i,
                                      'fp': md5(array_to_string(
                                          t[i : i+7], ' '))}})) AS w
                     FROM toks WHERE len(t) >= 8),
            ranked AS (SELECT doc_id, w.p AS p,
                              ROW_NUMBER() OVER (
                                  PARTITION BY w.fp
                                  ORDER BY doc_id, w.p) AS rn
                       FROM wins),
            removed AS (SELECT DISTINCT doc_id, rp FROM (
                            SELECT doc_id, unnest(range(p, p + 8)) AS rp
                            FROM ranked WHERE rn >= 2)),
            tokflat AS (SELECT doc_id, len(t) AS n_tokens,
                               unnest(list_transform(
                                   range(1, len(t) + 1),
                                   i -> {{'tp': i, 'tok': t[i]}})) AS s
                        FROM toks),
            kept AS (SELECT f.doc_id, f.n_tokens,
                            f.s.tp AS tp, f.s.tok AS tok
                     FROM tokflat f
                     LEFT JOIN removed r
                       ON f.doc_id = r.doc_id AND f.s.tp = r.rp
                     WHERE r.rp IS NULL)
            SELECT 'segment' AS variant, f.doc_id,
                   md5(string_agg(f.seg, ' ' ORDER BY f.seg_idx))
                       AS text_fp,
                   CAST(ceil(len(t.t) / 10.0) AS INTEGER) AS n_units,
                   CAST(COUNT(*) AS INTEGER) AS n_kept
            FROM firsts f JOIN toks t USING (doc_id)
            WHERE f.rn = 1
            GROUP BY f.doc_id, t.t
            UNION ALL
            SELECT 'passage' AS variant, doc_id,
                   md5(string_agg(tok, ' ' ORDER BY tp)) AS text_fp,
                   CAST(n_tokens AS INTEGER) AS n_units,
                   CAST(COUNT(*) AS INTEGER) AS n_kept
            FROM kept GROUP BY doc_id, n_tokens
            UNION ALL
            -- dupfrac arm: per-doc DISTINCT 5-grams, doc-frequency >= 2
            -- means shared with another doc (per-doc multiplicity is
            -- collapsed first, mirroring array_distinct); row-preserving
            -- LEFT JOIN so shingle-less docs emit (0, 0)
            SELECT 'dupfrac' AS variant, d.doc_id,
                   CAST(NULL AS VARCHAR) AS text_fp,
                   CAST(COALESCE(dpf.nng, 0) AS INTEGER) AS n_units,
                   CAST(COALESCE(dpf.dng, 0) AS INTEGER) AS n_kept
            FROM documents d
            LEFT JOIN (
                WITH sh5 AS (SELECT doc_id,
                                    unnest(list_filter(
                                        {_SHINGLE5_SQL.format(t='t')},
                                        x -> x <> '')) AS s
                             FROM toks),
                     dfc AS (SELECT s, COUNT(*) AS dc FROM sh5 GROUP BY s)
                SELECT doc_id, COUNT(*) AS nng,
                       COUNT(*) FILTER (WHERE dc >= 2) AS dng
                FROM sh5 JOIN dfc USING (s) GROUP BY doc_id
            ) dpf USING (doc_id)
            UNION ALL
            -- dupfcap arm: the max_doc_freq=2 hot-shingle lever —
            -- doc-frequency > 2 is boilerplate, excluded from BOTH
            -- counts (the operator's documented approximation,
            -- mirrored identically here)
            SELECT 'dupfcap' AS variant, d.doc_id,
                   CAST(NULL AS VARCHAR) AS text_fp,
                   CAST(COALESCE(dpf.nng, 0) AS INTEGER) AS n_units,
                   CAST(COALESCE(dpf.dng, 0) AS INTEGER) AS n_kept
            FROM documents d
            LEFT JOIN (
                WITH sh5 AS (SELECT doc_id,
                                    unnest(list_filter(
                                        {_SHINGLE5_SQL.format(t='t')},
                                        x -> x <> '')) AS s
                             FROM toks),
                     dfc AS (SELECT s, COUNT(*) AS dc FROM sh5 GROUP BY s)
                SELECT doc_id,
                       COUNT(*) FILTER (WHERE dc <= 2) AS nng,
                       COUNT(*) FILTER (WHERE dc = 2) AS dng
                FROM sh5 JOIN dfc USING (s) GROUP BY doc_id
            ) dpf USING (doc_id)""",
        "streaming_ops_suite": f"""
            SELECT 'good' AS kind, CAST(event_id AS BIGINT) AS event_id,
                   CAST(user_id AS BIGINT) AS user_id, event_type,
                   ROUND(value, 6) AS value,
                   CAST(NULL AS BIGINT) AS attempts
            FROM events WHERE value >= 0.05
            UNION ALL
            SELECT 'quarantined' AS kind, CAST(event_id AS BIGINT),
                   CAST(user_id AS BIGINT), event_type, ROUND(value, 6),
                   CAST(NULL AS BIGINT)
            FROM events WHERE value < 0.05 OR value IS NULL
            UNION ALL
            SELECT 'st2' AS kind, CAST(event_id AS BIGINT),
                   CAST(user_id AS BIGINT), event_type, ROUND(value, 6),
                   CAST(NULL AS BIGINT)
            FROM events WHERE day(CAST(ts AS TIMESTAMP)) = 16
            UNION ALL
            -- ST4: append-mode emission = windows whose end cleared the
            -- final watermark (max ts - 1 h); the planted late row is
            -- dropped, so values are fixture-only.
            SELECT 'late_window' AS kind,
                   CAST(floor(epoch(ws)) AS BIGINT) AS event_id,
                   CAST(COUNT(*) AS BIGINT) AS user_id,
                   CAST(NULL AS VARCHAR) AS event_type,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4)))
                              AS DOUBLE), 2) AS value,
                   CAST(NULL AS BIGINT)
            FROM (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
                         value
                  FROM events)
            GROUP BY ws
            HAVING ws + INTERVAL 2 HOUR <=
                   (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)
            UNION ALL
            -- S7 bounded retry: transient poison (id%50=3) succeeds on
            -- delivery 3; permanent poison (id%50=7) -> DLQ after 3.
            SELECT 'dlq_good' AS kind, CAST(event_id AS BIGINT),
                   CAST(user_id AS BIGINT), event_type, ROUND(value, 6),
                   CAST(CASE WHEN event_id % 50 = 3 THEN 3 ELSE 1 END
                        AS BIGINT)
            FROM events WHERE event_id % 50 <> 7
            UNION ALL
            SELECT 'dlq_dead' AS kind, CAST(event_id AS BIGINT),
                   CAST(user_id AS BIGINT), event_type, ROUND(value, 6),
                   CAST(3 AS BIGINT)
            FROM events WHERE event_id % 50 = 7
            UNION ALL
            -- stream-static enrichment: the dim weight must ride out in
            -- all three derived columns.
            SELECT 'enrich' AS kind, CAST(event_id AS BIGINT),
                   CAST(user_id AS BIGINT),
                   event_type || '#' || CAST(w AS VARCHAR),
                   ROUND(value * w, 6), CAST(w AS BIGINT)
            FROM events JOIN (VALUES ('click', 2), ('error', 7),
                   ('purchase', 11), ('signup', 3), ('view', 5))
                 AS dim(et, w) ON event_type = et
            UNION ALL
            -- mdrift arms: the per-epoch streaming drift monitor —
            -- single-file source = one epoch, so the whole-table
            -- comparison IS the epoch's; same generated term SQL as
            -- the t5 mix arms, events-sourced
            SELECT kind, CAST(0 AS BIGINT) AS event_id, ncat,
                   CASE WHEN psi > 0.25 THEN 'drifted'
                        ELSE 'stable' END AS event_type,
                   psi AS value, nadd AS attempts
            FROM (
              SELECT 'mdrift_hot' AS kind,
                     CAST(COUNT(*) AS BIGINT) AS ncat,
                     CAST(SUM(CASE WHEN n_a = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS nadd,
                     CAST(SUM(CAST(ROUND(psi_term * 1000000) AS BIGINT))
                          AS DOUBLE) / 1e6 AS psi
              FROM ({_mixterms_sql(
                  'event_type',
                  a_from=("(SELECT event_type FROM events "
                          "WHERE event_type <> 'error')"),
                  b_from='(SELECT event_type FROM events)')})
              UNION ALL
              SELECT 'mdrift_ok',
                     CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN n_a = 0 THEN 1 ELSE 0 END)
                          AS BIGINT),
                     CAST(SUM(CAST(ROUND(psi_term * 1000000) AS BIGINT))
                          AS DOUBLE) / 1e6
              FROM ({_mixterms_sql(
                  'event_type',
                  a_from='(SELECT event_type FROM events)',
                  b_from='(SELECT event_type FROM events)')}))
            UNION ALL
            -- mdrift_num arm (r10): numeric profile drift — the
            -- reference's value carries the planted +10 mean shift
            -- and 1-in-4 null surge; deltas mirror profile_columns'
            -- micro-unit vavg and round-6 null_frac verbatim (the
            -- _drift_col_sql discipline), batch-minus-reference,
            -- then abs (the monitor's max over ONE watched column)
            SELECT 'mdrift_num' AS kind, CAST(0 AS BIGINT) AS event_id,
                   (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                    FROM events) AS user_id,
                   CASE WHEN ABS(nfd) > 0.05 OR ABS(vad) > 1.0
                        THEN 'numdrift' ELSE 'numstable' END
                       AS event_type,
                   ABS(vad) AS value,
                   CAST(ROUND(ABS(nfd) * 1000000) AS BIGINT)
                       AS attempts
            FROM (
              SELECT ROUND(ROUND(CAST(b.nr - b.nn AS DOUBLE) / b.nr, 6)
                           - ROUND(CAST(a.nr - a.nn AS DOUBLE)
                                   / a.nr, 6), 6) AS nfd,
                     ROUND(b.va - a.va, 6) AS vad
              FROM (SELECT COUNT(*) AS nr, COUNT(v) AS nn,
                           ROUND(CAST(SUM(CAST(ROUND(v * 1000000)
                                              AS DECIMAL(38,0)))
                                      AS DOUBLE)
                                 / (CAST(COUNT(v) AS DOUBLE) * 1e6), 6)
                               AS va
                    FROM (SELECT {_MDRIFT_NUM_REF_SQL} AS v
                          FROM events)) a
              CROSS JOIN
                   (SELECT COUNT(*) AS nr, COUNT(value) AS nn,
                           ROUND(CAST(SUM(CAST(ROUND(value * 1000000)
                                              AS DECIMAL(38,0)))
                                      AS DOUBLE)
                                 / (CAST(COUNT(value) AS DOUBLE) * 1e6),
                                 6) AS va
                    FROM events) b)
            UNION ALL
            -- alarm arms (r10): DLQ depth (the permanent-poison
            -- population, modal reason, pages at threshold 1) and
            -- the single-epoch throughput alarm (threshold 0, k 1)
            SELECT 'alarm' AS kind,
                   CAST(pp AS BIGINT) AS event_id,
                   CAST(CASE WHEN pp > 0 THEN 1 ELSE 0 END AS BIGINT)
                       AS user_id,
                   CASE WHEN pp > 0 THEN 'failed_after_3_deliveries'
                        END AS event_type,
                   CAST(NULL AS DOUBLE) AS value,
                   CAST(CASE WHEN pp >= 1 THEN 1 ELSE 0 END AS BIGINT)
                       AS attempts
            FROM (SELECT COUNT(*) AS pp FROM events
                  WHERE event_id % 50 = 7)
            UNION ALL
            SELECT 'alarm2', CAST(1 AS BIGINT),
                   CAST(CASE WHEN ne > 0 THEN 1 ELSE 0 END AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
                   CAST(CASE WHEN ne > 0 THEN 1 ELSE 0 END AS BIGINT)
            FROM (SELECT COUNT(*) AS ne FROM events)""",
        "s8_s9_suite": f"""
            SELECT 'retain' AS kind, CAST(day(ts) AS BIGINT) AS a,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   {_MSUM_SQL.format(c='value')} AS val
            FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
            GROUP BY 2
            UNION ALL
            SELECT 'tick' AS kind, CAST(event_id % 2 AS BIGINT) AS a,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   {_MSUM_SQL.format(c='value')} AS val
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'archive' AS kind, CAST(NULL AS BIGINT) AS a,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   {_MSUM_SQL.format(c='value')} AS val
            FROM events""",
        "x5_text_signals": f"""
            WITH t AS (SELECT doc_id, text,
                              {_TOKENS_SQL.format(c='lower(text)')} AS toks
                       FROM documents),
            s AS (SELECT doc_id, text,
                         len(list_filter(toks, x -> list_contains(
                             ['der','die','und','das','ist'], x))) AS s_de,
                         len(list_filter(toks, x -> list_contains(
                             ['the','and','of','to','is'], x))) AS s_en,
                         len(list_filter(toks, x -> list_contains(
                             ['el','la','que','los','es'], x))) AS s_es,
                         len(list_filter(toks, x -> list_contains(
                             ['le','les','des','est','une'], x))) AS s_fr
                  FROM t),
            lid AS (SELECT doc_id,
                   CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                        WHEN greatest(s_de, s_en, s_es, s_fr) > 0 THEN
                            CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
                                     THEN 'de'
                                 WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
                                     THEN 'en'
                                 WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
                                     THEN 'es'
                                 ELSE 'fr' END
                        ELSE 'und' END AS predicted_lang
                    FROM s),
            q0 AS (SELECT doc_id, text,
                          length(regexp_replace(text, '\\s', '', 'g'))
                              AS nonspace,
                          length(regexp_replace(text, '[a-zA-Z0-9\\s]', '',
                                                'g')) AS punct,
                          {_TOKENS_SQL.format(c='text')} AS toks,
                          {_TOKENS_SQL.format(c='lower(text)')} AS ltoks
                   FROM documents),
            qf AS (SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS q_chars,
                   CAST(len(toks) AS BIGINT) AS q_tokens,
                   ROUND(CASE WHEN nonspace > 0
                              THEN CAST(punct AS DOUBLE) / nonspace
                              ELSE 0.0 END, 6) AS q_punct_ratio,
                   ROUND(CASE WHEN len(ltoks) > 0
                              THEN CAST(len(list_filter(ltoks,
                                   x -> list_contains({_STOPWORDS_SQL}, x)))
                                   AS DOUBLE) / len(ltoks)
                              ELSE 0.0 END, 6) AS q_stopword_ratio,
                   ROUND(((CASE WHEN length(text) BETWEEN 20 AND 100000
                                THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN nonspace > 0 AND
                                  CAST(punct AS DOUBLE) / nonspace <= 0.3
                                  THEN 1.0
                                  WHEN nonspace = 0 THEN 1.0
                                  ELSE 0.0 END)
                          + (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE 0.0 END))
                         / 3.0, 6) AS q_score
                   FROM q0),
            fp0 AS (SELECT doc_id,
                           md5(lower(regexp_replace(trim(text),
                                                    '\\s+', ' ', 'g'))) AS fp
                    FROM documents),
            fpc AS (SELECT f.doc_id, f.fp, c.dup_count
                    FROM fp0 f
                    JOIN (SELECT fp, CAST(COUNT(*) AS BIGINT) AS dup_count
                          FROM fp0 GROUP BY fp) c USING (fp)),
            pd AS (SELECT lang,
                          CAST(len({_TOKENS_SQL.format(c='text')}) AS BIGINT)
                              AS n_tok,
                          CAST(len({_BPE_SQL.format(c='text')}) AS BIGINT)
                              AS n_bpe,
                          {_TOKENS_SQL.format(c='text')} AS toks
                   FROM documents),
            a1 AS (SELECT lang,
                          CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                          CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens
                   FROM pd GROUP BY lang),
            a2 AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
                   FROM (SELECT lang, unnest(toks) AS tok FROM pd)
                   GROUP BY lang),
            st AS (SELECT a1.lang, total_tokens, total_bpe_tokens, vocab
                   FROM a1 JOIN a2 USING (lang)),
            tfm AS (SELECT doc_id, tok,
                           CAST(COUNT(*) AS BIGINT) AS tf
                    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                    GROUP BY doc_id, tok),
            idfm AS (SELECT tok,
                            ROUND(ln(((SELECT COUNT(*) FROM documents)
                                      + 1.0)
                                     / (COUNT(*) + 1.0)), 6) AS idf
                     FROM tfm GROUP BY tok),
            kwr AS (SELECT doc_id, tok, tf * idf AS s,
                           ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tf * idf DESC, tok) AS rn
                    FROM tfm JOIN idfm USING (tok)),
            kw AS (SELECT doc_id,
                          string_agg(tok, ',' ORDER BY rn) AS top_terms
                   FROM kwr WHERE rn <= 3 GROUP BY doc_id),
            -- char-entropy arm: per-(doc, char) counts, round-6 terms,
            -- exact integer accumulation (the _msum discipline), the
            -- 0-minus-sum negation done in BIGINT so H=0 never emits -0.0
            chx AS (SELECT doc_id,
                           unnest(list_transform(
                               range(1, length(text) + 1),
                               i -> text[i])) AS ch
                    FROM documents),
            chc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
                    FROM chx GROUP BY doc_id, ch),
            cht AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                           CAST(COUNT(*) AS BIGINT) AS ndc
                    FROM chc GROUP BY doc_id),
            che AS (SELECT c.doc_id,
                           MAX(t.ndc) AS n_distinct_chars,
                           CAST(0 - SUM(CAST(round(
                               round((c.c / t.n) * log2(c.c / t.n), 6)
                               * 1000000) AS BIGINT)) AS DOUBLE)
                           / 1000000.0 AS char_entropy
                    FROM chc c JOIN cht t USING (doc_id)
                    GROUP BY c.doc_id)
            SELECT d.doc_id, lid.predicted_lang,
                   qf.q_chars, qf.q_tokens, qf.q_punct_ratio,
                   qf.q_stopword_ratio, qf.q_score,
                   fpc.fp, fpc.dup_count,
                   st.total_tokens, st.total_bpe_tokens, st.vocab,
                   COALESCE(kw.top_terms, '') AS top_terms,
                   che.n_distinct_chars, che.char_entropy
            FROM documents d
            JOIN lid USING (doc_id)
            JOIN qf USING (doc_id)
            JOIN fpc USING (doc_id)
            JOIN st ON d.lang = st.lang
            LEFT JOIN kw ON d.doc_id = kw.doc_id
            LEFT JOIN che ON d.doc_id = che.doc_id""",
        "x6_multimodal": """
            SELECT 'media' AS kind,
                   'application/octet-stream|' || source || '#'
                       || CAST(label % 2 AS VARCHAR) AS key,
                   CAST(COUNT(*) AS BIGINT) AS a,
                   CAST(SUM(octet_length(encode(text))) AS BIGINT) AS b,
                   CAST(NULL AS BIGINT) AS c,
                   ROUND(AVG(octet_length(encode(text))), 4) AS v,
                   CAST(NULL AS VARCHAR) AS h
            FROM documents JOIN embeddings ON doc_id = vec_id
            GROUP BY 2
            UNION ALL
            -- binary-UDF half: recompute the stub featurizer's byte-bucket
            -- histogram from the hex dump of the same UTF-8 payload
            -- (byte % 8 == low nibble % 8 — the low nibble is every
            -- even-position hex char), plus the frame-sampling row counts.
            SELECT 'binary' AS kind, CAST(doc_id AS VARCHAR) AS key,
                   n_bytes AS a,
                   greatest(n_bytes // 64, 1) AS b,
                   (greatest(n_bytes // 64, 1) - 1) * 64 AS c,
                   CAST(NULL AS DOUBLE) AS v,
                   array_to_string(
                       list_transform(range(0, 8),
                           k -> len(list_filter(
                               list_transform(
                                   range(1, CAST(n_bytes AS BIGINT) + 1),
                                   i -> substr(hx, CAST(2*i AS BIGINT), 1)),
                               ch -> (strpos('0123456789abcdef', ch) - 1)
                                     % 8 = k))),
                       ',') AS h
            FROM (SELECT doc_id,
                         CAST(octet_length(encode(text)) AS BIGINT)
                             AS n_bytes,
                         lower(hex(encode(text))) AS hx
                  FROM documents)
            UNION ALL
            -- decoded half: what a CORRECT WAV decode must find, from
            -- synthesize_wav_payload's closed form (n = 50 + id % 100,
            -- sample[i] = (id*31 + i*17) % 2048 - 1024, 8 kHz mono).
            SELECT 'decoded' AS kind, CAST(doc_id AS VARCHAR) AS key,
                   CAST(n AS BIGINT) AS a, CAST(8000 AS BIGINT) AS b,
                   CAST(list_aggregate(s, 'sum') AS BIGINT) AS c,
                   ROUND(sqrt(CAST(list_aggregate(
                       list_transform(s, x -> x * x), 'sum') AS DOUBLE)
                       / n), 6) AS v,
                   CAST(NULL AS VARCHAR) AS h
            FROM (SELECT doc_id, n,
                         list_transform(range(0, n),
                             i -> (doc_id * 31 + i * 17) % 2048 - 1024)
                             AS s
                  FROM (SELECT doc_id, 50 + doc_id % 100 AS n
                        FROM documents))
            UNION ALL
            -- img half (r11): what a CORRECT BMP decode must find,
            -- from synthesize_bmp_payload's closed form (top-down
            -- coords; the payload stores rows bottom-up in BGR, which
            -- the decoder must undo for corner_rgb/wsum to match).
            SELECT 'img' AS kind, CAST(doc_id AS VARCHAR) AS key,
                   CAST(SUM(r + g + b2) AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN x = 0 AND y = 0
                            THEN r * 65536 + g * 256 + b2
                            ELSE 0 END) AS BIGINT) AS b,
                   CAST(SUM((x + 10 * y) * (r + g + b2)) AS BIGINT)
                       AS c,
                   CAST(NULL AS DOUBLE) AS v,
                   CAST(w AS VARCHAR) || 'x' || CAST(hh AS VARCHAR)
                       AS h
            FROM (SELECT doc_id, w, hh, x, y,
                         (doc_id * 7 + x * 3 + y * 5) % 256 AS r,
                         (doc_id * 11 + x * 5 + y * 7) % 256 AS g,
                         (doc_id * 13 + x * 7 + y * 11) % 256 AS b2
                  FROM (SELECT doc_id, w, hh, x,
                               unnest(range(0, hh)) AS y
                        FROM (SELECT doc_id, w, hh,
                                     unnest(range(0, w)) AS x
                              FROM (SELECT doc_id,
                                           4 + doc_id % 5 AS w,
                                           3 + doc_id % 4 AS hh
                                    FROM documents))))
            GROUP BY doc_id, w, hh
            UNION ALL
            -- vid half (r12): what a CORRECT Y4M demux must find, from
            -- synthesize_y4m_payload's closed form (top-down coords,
            -- Y/U/V plane order, frames in stream order). v is the
            -- frame-weighted luma sum the REAL frame_sample path emits
            -- per frame: sum over t of (t+1) * sum(Y plane of frame t).
            SELECT 'vid' AS kind, CAST(doc_id AS VARCHAR) AS key,
                   CAST(SUM(yv + uv + vv) AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN x = 0 AND y = 0 AND t = 0
                            THEN yv * 65536 + uv * 256 + vv
                            ELSE 0 END) AS BIGINT) AS b,
                   CAST(SUM((x + 10 * y + 100 * t) * (yv + uv + vv))
                        AS BIGINT) AS c,
                   CAST(SUM((t + 1) * yv) AS DOUBLE) AS v,
                   CAST(w AS VARCHAR) || 'x' || CAST(hh AS VARCHAR)
                       || 'x' || CAST(nf AS VARCHAR) AS h
            FROM (SELECT doc_id, w, hh, nf, x, y, t,
                         (doc_id * 7 + x * 3 + y * 5 + t * 11) % 256
                             AS yv,
                         (doc_id * 11 + x * 5 + y * 7 + t * 13) % 256
                             AS uv,
                         (doc_id * 13 + x * 7 + y * 11 + t * 17) % 256
                             AS vv
                  FROM (SELECT doc_id, w, hh, nf, x, y,
                               unnest(range(0, nf)) AS t
                        FROM (SELECT doc_id, w, hh, nf, x,
                                     unnest(range(0, hh)) AS y
                              FROM (SELECT doc_id, w, hh, nf,
                                           unnest(range(0, w)) AS x
                                    FROM (SELECT doc_id,
                                                 4 + doc_id % 3 AS w,
                                                 2 + doc_id % 3 AS hh,
                                                 2 + doc_id % 3 AS nf
                                          FROM documents)))))
            GROUP BY doc_id, w, hh, nf
            UNION ALL
            -- vid420 half (r13): the same demux contract over Y4M's
            -- header-default colorspace — C420 chroma planes are
            -- (w/2)x(h/2) and wsum weights each plane by ITS OWN
            -- top-down grid, so luma and chroma expand separately.
            SELECT 'vid420' AS kind, CAST(l.doc_id AS VARCHAR) AS key,
                   l.ysum + c.csum AS a,
                   l.ycorner + c.ccorner AS b,
                   l.ywsum + c.cwsum AS c,
                   CAST(l.fy AS DOUBLE) AS v,
                   CAST(l.w AS VARCHAR) || 'x' || CAST(l.hh AS VARCHAR)
                       || 'x' || CAST(l.nf AS VARCHAR) AS h
            FROM (SELECT doc_id, w, hh, nf,
                         CAST(SUM(yv) AS BIGINT) AS ysum,
                         CAST(SUM(CASE WHEN x = 0 AND y = 0 AND t = 0
                                  THEN yv * 65536 ELSE 0 END) AS BIGINT)
                             AS ycorner,
                         CAST(SUM((x + 10 * y + 100 * t) * yv)
                              AS BIGINT) AS ywsum,
                         CAST(SUM((t + 1) * yv) AS BIGINT) AS fy
                  FROM (SELECT doc_id, w, hh, nf, x, y, t,
                               (doc_id * 7 + x * 3 + y * 5 + t * 11)
                                   % 256 AS yv
                        FROM (SELECT doc_id, w, hh, nf, x, y,
                                     unnest(range(0, nf)) AS t
                              FROM (SELECT doc_id, w, hh, nf, x,
                                           unnest(range(0, hh)) AS y
                                    FROM (SELECT doc_id, w, hh, nf,
                                                 unnest(range(0, w))
                                                     AS x
                                          FROM (SELECT doc_id,
                                                       4 + 2 * (doc_id % 3) AS w,
                                                       2 + 2 * (doc_id % 3) AS hh,
                                                       2 + doc_id % 3 AS nf
                                                FROM documents)))))
                  GROUP BY doc_id, w, hh, nf) l
            JOIN (SELECT doc_id,
                         CAST(SUM(uv + vv) AS BIGINT) AS csum,
                         CAST(SUM(CASE WHEN x = 0 AND y = 0 AND t = 0
                                  THEN uv * 256 + vv ELSE 0 END)
                              AS BIGINT) AS ccorner,
                         CAST(SUM((x + 10 * y + 100 * t) * (uv + vv))
                              AS BIGINT) AS cwsum
                  FROM (SELECT doc_id, x, y, t,
                               (doc_id * 11 + x * 5 + y * 7 + t * 13)
                                   % 256 AS uv,
                               (doc_id * 13 + x * 7 + y * 11 + t * 17)
                                   % 256 AS vv
                        FROM (SELECT doc_id, cw, chh, nf, x, y,
                                     unnest(range(0, nf)) AS t
                              FROM (SELECT doc_id, cw, chh, nf, x,
                                           unnest(range(0, chh)) AS y
                                    FROM (SELECT doc_id, cw, chh, nf,
                                                 unnest(range(0, cw))
                                                     AS x
                                          FROM (SELECT doc_id,
                                                       2 + doc_id % 3 AS cw,
                                                       1 + doc_id % 3 AS chh,
                                                       2 + doc_id % 3 AS nf
                                                FROM documents)))))
                  GROUP BY doc_id) c
            ON l.doc_id = c.doc_id""",
        "x10_decontaminate": (
            "WITH s AS (SELECT doc_id, text,"
            "                  CASE WHEN doc_id % 10 < 8 THEN 'train'"
            "                       ELSE 'eval' END AS split"
            "           FROM documents),"
            " tt AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text")
            + " AS toks FROM s WHERE split = 'train'),"
            " et AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text")
            + " AS toks FROM s WHERE split = 'eval'),"
            " tsh AS (SELECT doc_id, unnest("
            + _SHINGLE5_SQL.format(t="toks") + ") AS sh FROM tt),"
            " tsh2 AS (SELECT DISTINCT doc_id, sh FROM tsh WHERE sh <> ''),"
            " esh0 AS (SELECT unnest(" + _SHINGLE5_SQL.format(t="toks")
            + ") AS sh FROM et),"
            " esh AS (SELECT DISTINCT sh FROM esh0 WHERE sh <> ''),"
            " hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap"
            "          FROM tsh2 JOIN esh USING (sh) GROUP BY doc_id),"
            " res AS (SELECT s.doc_id,"
            "                COALESCE(h.n_overlap, 0) AS n_overlap,"
            "                COALESCE(h.n_overlap, 0) >= 1 AS contaminated"
            "         FROM s LEFT JOIN hits h USING (doc_id)"
            "         WHERE s.split = 'train'),"
            " eshd AS (SELECT doc_id AS eval_id, unnest("
            + _SHINGLE5_SQL.format(t="toks") + ") AS sh FROM et),"
            " eshd2 AS (SELECT DISTINCT eval_id, sh FROM eshd WHERE sh <> ''),"
            " pair AS (SELECT t.doc_id, e.eval_id,"
            "                 CAST(COUNT(*) AS BIGINT) AS pov"
            "          FROM tsh2 t JOIN eshd2 e USING (sh)"
            "          GROUP BY t.doc_id, e.eval_id),"
            " top AS (SELECT doc_id, eval_id, pov FROM"
            "           (SELECT doc_id, eval_id, pov, ROW_NUMBER() OVER ("
            "                PARTITION BY doc_id"
            "                ORDER BY pov DESC, eval_id) AS rn FROM pair)"
            "         WHERE rn = 1),"
            " tot AS (SELECT doc_id, CAST(len(list_distinct(list_filter("
            + _SHINGLE5_SQL.format(t="toks")
            + ", x -> x <> ''))) AS BIGINT) AS n_total FROM tt)"
            " SELECT 'exact' AS tag, *,"
            "        CAST(NULL AS BIGINT) AS n_total,"
            "        CAST(NULL AS DOUBLE) AS frac_overlap,"
            "        CAST(NULL AS BIGINT) AS top_eval_id,"
            "        CAST(NULL AS BIGINT) AS top_eval_overlap FROM res"
            " UNION ALL SELECT 'bloom' AS tag, *,"
            "        CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),"
            "        CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM res"
            " UNION ALL"
            " SELECT 'report' AS tag, h.doc_id, h.n_overlap,"
            "        TRUE AS contaminated, tot.n_total,"
            "        ROUND(CAST(h.n_overlap AS DOUBLE) / tot.n_total, 6)"
            "            AS frac_overlap,"
            "        top.eval_id AS top_eval_id,"
            "        top.pov AS top_eval_overlap"
            " FROM hits h JOIN top USING (doc_id)"
            "        JOIN tot USING (doc_id)"),
        "x11_text_hygiene": (
            "WITH t AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text")
            + " AS toks FROM documents)," + _x11_lex_ctes() +
            " rep0 AS (SELECT doc_id, toks,"
            "     list_filter(CASE WHEN len(toks) < 3"
            "          THEN [array_to_string(toks, ' ')]"
            "          ELSE list_transform(range(1, len(toks) - 1),"
            "                   i -> array_to_string(toks[i:i+2], ' '))"
            "     END, x -> x <> '') AS sh"
            "     FROM t),"
            " rep AS (SELECT doc_id,"
            "     CAST(len(toks) AS BIGINT) AS tok_total,"
            "     CAST(len(list_distinct(toks)) AS BIGINT) AS tok_distinct,"
            "     ROUND(CASE WHEN len(toks) > 0 THEN"
            "         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)"
            "               / len(toks)"
            "         ELSE 0.0 END, 6) AS dup_token_ratio,"
            "     CAST(len(sh) AS BIGINT) AS ngram_total,"
            "     CAST(len(list_distinct(sh)) AS BIGINT) AS ngram_distinct,"
            "     ROUND(CASE WHEN len(sh) > 0 THEN"
            "         1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)"
            "         ELSE 0.0 END, 6) AS dup_ngram_ratio"
            "     FROM rep0),"
            " p AS (SELECT doc_id,"
            "     text || ' contact user' || CAST(doc_id AS VARCHAR)"
            "          || '@example.com ref '"
            "          || CAST(doc_id * 7919 + 100003 AS VARCHAR) AS ptext"
            "     FROM documents),"
            " e1 AS (SELECT doc_id,"
            "     CAST(len(regexp_extract_all(ptext, '" + _EMAIL_RE + "'))"
            "          AS BIGINT) AS n_email,"
            "     regexp_replace(ptext, '" + _EMAIL_RE + "',"
            "                    '[REDACTED]', 'g') AS t1"
            "     FROM p),"
            " e2 AS (SELECT doc_id, n_email,"
            "     CAST(len(regexp_extract_all(t1, '" + _DIGIT_RE + "'))"
            "          AS BIGINT) AS n_digit_run,"
            "     regexp_replace(t1, '" + _DIGIT_RE + "',"
            "                    '[REDACTED]', 'g') AS t2"
            "     FROM e1),"
            " pg AS (SELECT d.doc_id, concat_ws(chr(10),"
            "     array_to_string(t.toks[1:8], ' ') || '.',"
            "     'please enable javascript to view this page.',"
            "     array_to_string(t.toks[3:5], ' '),"
            "     '* ' || array_to_string(t.toks[2:7], ' ') || '!',"
            "     array_to_string(t.toks[5:8], ' ') || '...',"
            "     CASE WHEN d.doc_id % 7 = 0"
            "          THEN 'lorem ipsum dolor sit amet.' END,"
            "     CASE WHEN d.doc_id % 11 = 0"
            "          THEN 'var f = function() { return 1; }' END"
            "     ) AS page FROM documents d JOIN t USING (doc_id)),"
            " pl AS (SELECT doc_id, page,"
            "     list_filter(string_split(page, chr(10)),"
            "                 l -> trim(l) <> '') AS lines,"
            "     " + _TOKENS_SQL.format(c="page") + " AS w,"
            "     list_distinct(" + _TOKENS_SQL.format(c="lower(page)")
            + "     ) AS lw FROM pg),"
            " c4 AS (SELECT doc_id,"
            "     CAST(len(lines) AS BIGINT) AS c4_n_lines,"
            "     (contains(lower(page), 'lorem ipsum')"
            "      OR contains(lower(page), '{')) AS dropped,"
            "     list_filter(lines, l ->"
            "         right(trim(l), 1) IN ('.', '!', '?', '\"')"
            "         AND len(list_filter(regexp_split_to_array("
            "                 trim(l), '\\s+'), x -> x <> '')) >= 4"
            "         AND NOT contains(lower(trim(l)), 'javascript')"
            "         AND NOT contains(lower(trim(l)), '{')) AS kept"
            "     FROM pl),"
            " c4o AS (SELECT doc_id, c4_n_lines,"
            "     CAST(CASE WHEN dropped THEN 0 ELSE len(kept) END"
            "          AS BIGINT) AS c4_kept_lines,"
            "     CAST(CASE WHEN dropped THEN c4_n_lines"
            "          ELSE c4_n_lines - len(kept) END"
            "          AS BIGINT) AS c4_dropped_lines,"
            "     CAST(dropped AS INT) AS c4_doc_dropped,"
            "     md5(CASE WHEN dropped THEN ''"
            "         ELSE array_to_string(kept, chr(10)) END) AS c4_fp"
            "     FROM c4),"
            " gp AS (SELECT doc_id,"
            "     len(w) AS nw, len(lines) AS nl,"
            "     CAST(list_sum(list_transform(w, x -> length(x)))"
            "          AS DOUBLE) / len(w) AS mean_len,"
            "     CAST(len(regexp_extract_all(page, '#'))"
            "          + len(regexp_extract_all(page, '\\.\\.\\.'))"
            "          AS DOUBLE) / len(w) AS sym_ratio,"
            "     CAST(len(list_filter(lines, l ->"
            "          starts_with(trim(l), '- ')"
            "          OR starts_with(trim(l), '* '))) AS DOUBLE)"
            "          / len(lines) AS bullet_frac,"
            "     CAST(len(list_filter(lines, l ->"
            "          ends_with(trim(l), '...'))) AS DOUBLE)"
            "          / len(lines) AS ellipsis_frac,"
            "     CAST(len(list_filter(w, x ->"
            "          regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)"
            "          / len(w) AS alpha_frac,"
            "     len(list_filter(lw, x -> x IN ('the', 'be', 'to',"
            "          'of', 'and', 'that', 'have', 'with')))"
            "          AS stop_hits FROM pl),"
            " gpo AS (SELECT doc_id,"
            "     CAST(nw AS BIGINT) AS g_n_words,"
            "     ROUND(mean_len, 6) AS g_mean_word_len,"
            "     ROUND(sym_ratio, 6) AS g_symbol_ratio,"
            "     ROUND(bullet_frac, 6) AS g_bullet_frac,"
            "     ROUND(ellipsis_frac, 6) AS g_ellipsis_frac,"
            "     ROUND(alpha_frac, 6) AS g_alpha_frac,"
            "     CAST(stop_hits AS BIGINT) AS g_stop_hits,"
            "     CAST((nw >= 25 AND nw <= 100000"
            "           AND mean_len >= 3.0 AND mean_len <= 10.0"
            "           AND sym_ratio <= 0.1 AND bullet_frac <= 0.9"
            "           AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8"
            "           AND stop_hits >= 2) AS INT) AS g_keep"
            "     FROM gp)"
            " SELECT r.doc_id, r.tok_total, r.tok_distinct,"
            "        r.dup_token_ratio, r.ngram_total, r.ngram_distinct,"
            "        r.dup_ngram_ratio, e2.n_email, e2.n_digit_run,"
            "        e2.n_email + e2.n_digit_run AS n_redactions,"
            "        md5(e2.t2) AS redacted_fp,"
            "        c4o.c4_n_lines, c4o.c4_kept_lines,"
            "        c4o.c4_dropped_lines, c4o.c4_doc_dropped, c4o.c4_fp,"
            "        gpo.g_n_words, gpo.g_mean_word_len,"
            "        gpo.g_symbol_ratio, gpo.g_bullet_frac,"
            "        gpo.g_ellipsis_frac, gpo.g_alpha_frac,"
            "        gpo.g_stop_hits, gpo.g_keep,"
            "        lx.lex_banned, lx.lex_compute, lx.lex_storage,"
            "        lx.lex_top, lx.lex_blocked"
            " FROM rep r JOIN e2 USING (doc_id)"
            " JOIN c4o USING (doc_id) JOIN gpo USING (doc_id)"
            " JOIN lx USING (doc_id)"),
    }
