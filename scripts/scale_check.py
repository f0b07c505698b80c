"""Scale-up measurement: run the dedup + ANN families at 1x and 10x rows.

Amplifies `documents` 10x (every doc duplicated 10 ways with small edits —
a near-dup pair graph ~1000x denser than the natural corpus) and
`embeddings` 10x (perturbed copies), then times the sketch dedup, the
connected-components clustering, and the two-table ANN join at both
sizes. Sub-linear growth in wall time despite super-linear growth in true
pairs is the evidence that candidate generation is banded/bucketed, not
all-pairs.

Usage: python scripts/scale_check.py   (env SPARK_GRAFT_SF_DIR, default sf0.1)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from serverless_data_pipeline_spark.session import get_spark  # noqa: E402
from serverless_data_pipeline_spark.operators.corpus import (  # noqa: E402
    bloom_decontaminate, corpus_datasheet, global_shuffle, pack_bins,
    passage_dedup,
)
from serverless_data_pipeline_spark.operators.sketches import (  # noqa: E402
    cms_build,
)
from serverless_data_pipeline_spark.functions.text import (  # noqa: E402
    shingles_from_tokens, tokens,
)
from serverless_data_pipeline_spark.operators.incremental import (  # noqa: E402
    corpus_index, incremental_dedup,
)
from serverless_data_pipeline_spark.operators.dedup import (  # noqa: E402
    dedupe_by_components, minhash_lsh_pairs, ngram_jaccard_pairs,
    semantic_dedup,
)
from serverless_data_pipeline_spark.operators.similarity import (  # noqa: E402
    ann_topk_join, train_ivf_centroids,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def amplified_docs(docs, factor: int):
    """factor near-dup variants per doc: tiny suffix edits keep Jaccard
    high, ids stay unique."""
    copies = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    return (docs.withColumn("__c", copies)
            .select((F.col("doc_id") * factor + F.col("__c")).alias("doc_id"),
                    F.concat("text", F.lit(" v"),
                             F.col("__c").cast("string")).alias("text")))


def skew_docs(spark, n_docs: int, uniq_words: int = 40):
    """REALISTIC-skew corpus (r8 verdict #4): per doc, ``uniq_words``
    globally-unique pseudo-random words (md5-derived, so no two docs
    share any content word) plus a 12-word hot boilerplate tail shared
    by EVERY doc — the real-corpus shingle shape: a singleton MAJORITY
    with a tiny ubiquitous hot set. The amplified fixture is the
    opposite (every 5-gram ~10-way shared), which is exactly why it
    cannot show the df>=2 prefilter's or the max_doc_freq cap's win."""
    boiler = (" all rights reserved subscribe to our newsletter for"
              " updates terms apply")
    word = F.substring(
        F.md5(F.concat(F.col("id").cast("string"), F.lit(":"),
                       F.col("i").cast("string"))), 1, 10)
    return (spark.range(n_docs)
            .select(F.col("id"),
                    F.explode(F.sequence(F.lit(1), F.lit(uniq_words)))
                    .alias("i"))
            .select("id", word.alias("w"))
            .groupBy("id")
            .agg(F.concat(F.array_join(F.collect_list("w"), " "),
                          F.lit(boiler)).alias("text"))
            .select(F.col("id").alias("doc_id"), "text"))


def amplified_embeddings(emb, factor: int):
    copies = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    return (emb.withColumn("__c", copies)
            .select((F.col("vec_id") * factor + F.col("__c")).alias("vec_id"),
                    F.transform(
                        "embedding",
                        lambda x: x + F.col("__c").cast("float") * 1e-4)
                     .alias("embedding")))


def amplified_lineitem(li, factor: int):
    """factor copies per lineitem with join keys INTACT (l_orderkey /
    l_partkey / l_suppkey unchanged) — fact-side density grows 10x
    against the same dimensions, the stress case for join build/probe
    sizing and agg key cardinality; l_linenumber is re-keyed so rows
    stay unique."""
    copies = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    return (li.withColumn("__c", copies)
            .withColumn("l_linenumber",
                        F.col("l_linenumber") * factor + F.col("__c"))
            .drop("__c"))


def ann_recall_planted(spark, e, seed: int) -> dict:
    """Measured recall@10 vs the exact X3 brute-force result on a
    PLANTED near-neighbor set (r12 verdict #5: commit the planner's
    predicted-vs-achieved gap). The natural fixture embeddings are
    near-uniform random vectors — ANN's adversarial regime where "the"
    top-10 is noise — and the sign-LSH planner's model is conditional
    on the neighbor's cosine, so the fair measurement plants 10
    neighbors at cos 0.9 per SYNTHETIC query vector (numpy:
    unit-orthogonal mix u = 0.9*v + sqrt(1-0.81)*w) and runs the
    PLANNER-CHOSEN (n_tables, n_planes, multiprobe) for target 0.9 at
    cos 0.9 against the base corpus ∪ planted. IVF(n_probe=4) and the
    composed IVF-PQ(refine) run the registry row's trained parameters
    over the same set. The queries are fresh seeded vectors that do
    NOT exist in the corpus (r13 review fix: a corpus query's exact
    top-10 contains itself — and, at 10x amplification, its nine
    perturbed cos≈0.9999999 siblings, which would crowd out every
    planted cos-0.9 neighbor and turn the measurement into trivial
    near-dup retrieval), so the exact top-10 is the planted set by
    construction (natural cosines stay < 0.6) and recall reads
    directly as "fraction of true cos-0.9 neighbors found"."""
    import numpy as np

    from serverless_data_pipeline_spark.operators.similarity import (
        ann_topk, brute_force_topk, build_ivfpq_index, ivf_topk,
        ivfpq_topk, sign_lsh_plan, train_ivf_centroids,
        train_pq_codebooks,
    )
    rng = np.random.default_rng(seed)
    cos_t = 0.9
    dim = len(e.select("embedding").orderBy("vec_id")
              .first()["embedding"])
    qrows, planted = [], []
    for qi in range(8):
        v = rng.standard_normal(dim)
        v = v / np.linalg.norm(v)
        qrows.append([float(x) for x in v])
        for j in range(10):
            w = rng.standard_normal(dim)
            w -= (w @ v) * v
            w /= np.linalg.norm(w)
            u = cos_t * v + np.sqrt(1.0 - cos_t * cos_t) * w
            planted.append((int(20_000_000 + qi * 100 + j),
                            [float(x) for x in u]))
    corpus = (e.select("vec_id", "embedding")
              .unionByName(spark.createDataFrame(
                  planted, "vec_id long, embedding array<float>"))
              .localCheckpoint(eager=True))
    plan = sign_lsh_plan(0.9, cos_t)
    cents = train_ivf_centroids(corpus, "embedding", n_cells=16)
    books = train_pq_codebooks(corpus, "embedding", 64, m=8, ksub=16)
    idx = build_ivfpq_index(corpus, "vec_id", "embedding", 64,
                            centroids=cents, codebooks=books) \
        .localCheckpoint(eager=True)
    hits = {"lsh_planned": 0.0, "ivf_p4": 0.0, "ivfpq_r200": 0.0}
    for qi, qv in enumerate(qrows):
        exact = {r[0] for r in brute_force_topk(
            corpus, "vec_id", "embedding", qv, k=10).collect()}
        assert exact == {20_000_000 + qi * 100 + j
                         for j in range(10)}, \
            "planted set is not the exact top-10 — fixture changed"
        shapes = {
            "lsh_planned": lambda: ann_topk(
                corpus, "vec_id", "embedding", qv, k=10,
                n_tables=plan["n_tables"], n_planes=plan["n_planes"],
                multiprobe=plan["multiprobe"]),
            "ivf_p4": lambda: ivf_topk(
                corpus, "vec_id", "embedding", qv, k=10, n_probe=4,
                centroids=cents),
            "ivfpq_r200": lambda: ivfpq_topk(
                idx, corpus, "vec_id", "embedding", qv, k=10,
                centroids=cents, codebooks=books, n_probe=4,
                refine=200),
        }
        for name, fn in shapes.items():
            got = {r[0] for r in fn().collect()}
            hits[name] += len(exact & got) / len(exact)
    n = len(qrows)
    res = {f"ann_recall_{k}": round(v / n, 3) for k, v in hits.items()}
    res["ann_recall_lsh_expected"] = plan["expected_recall"]
    res["ann_recall_lsh_plan"] = (f"{plan['n_tables']}x"
                                  f"{plan['n_planes']}"
                                  f"mp{plan['multiprobe']}")
    return res


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


def main() -> None:
    spark = get_spark(app_name="scale_check")
    docs = entry_mod._t(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = entry_mod._t(spark, SF_DIR, "embeddings")
    li_base = entry_mod._t(spark, SF_DIR, "lineitem")
    orders = entry_mod._t(spark, SF_DIR, "orders")
    cust = entry_mod._t(spark, SF_DIR, "customer")
    supp = entry_mod._t(spark, SF_DIR, "supplier")
    nation = entry_mod._t(spark, SF_DIR, "nation")
    region = entry_mod._t(spark, SF_DIR, "region")
    out: dict[str, dict[str, float]] = {}
    for factor in (1, 10):
        d = (docs if factor == 1
             else amplified_docs(docs, factor)).localCheckpoint(eager=True)
        e = (emb if factor == 1
             else amplified_embeddings(emb, factor)).localCheckpoint(eager=True)
        queries = e.filter(F.col("vec_id") % 1000 == 0)
        r: dict[str, float] = {"n_docs": d.count(), "n_vecs": e.count()}
        r["minhash_lsh"] = timed(
            lambda: minhash_lsh_pairs(d, "doc_id", "text",
                                      jaccard_threshold=0.4,
                                      materialize_signatures=True).count())
        # Time candidate generation and clustering SEPARATELY — r3's
        # combined number attributed pair-gen cost (the real superlinear
        # term: 84 s of the 10x run) to CC (~8 s on the materialized
        # 250k-pair list).
        pairs_plan = ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.4,
            max_doc_freq=100, materialize_index=True)
        pairs = None

        def _gen():
            nonlocal pairs
            pairs = (pairs_plan.select("id_a", "id_b")
                     .localCheckpoint(eager=True))
        r["pair_gen"] = timed(_gen)
        r["n_pairs"] = pairs.count()
        r["cc_label_prop"] = timed(
            lambda: dedupe_by_components(d, pairs, "doc_id",
                                         algorithm="label_prop").count())
        r["cc_star"] = timed(
            lambda: dedupe_by_components(d, pairs, "doc_id",
                                         algorithm="star").count())
        r["cc_auto"] = timed(
            lambda: dedupe_by_components(d, pairs, "doc_id").count())
        r["ann_join"] = timed(
            lambda: ann_topk_join(queries, e, "vec_id", "embedding",
                                  "vec_id", "embedding", dim=64, k=10,
                                  n_tables=2, n_planes=8).count())
        # recall@10 vs exact, planted cos-0.9 neighbors (r12 verdict
        # #5): the planner's predicted-vs-achieved recall, plus the
        # trained IVF / IVF-PQ tiers, as committed numbers at both
        # corpus sizes.
        r.update(ann_recall_planted(spark, e, seed=factor))
        # 10x amplification multiplies duplicated windows ~100x (every
        # window of every doc is now shared by `factor` variants) — the
        # stress case for the fingerprint-ranking shuffle.
        r["passage_dedup"] = timed(
            lambda: passage_dedup(d, "doc_id", "text", k=8,
                                  fingerprint="xxhash64").count())
        # Bloom decontamination: the train side grows with `factor`
        # while the eval bitmap stays a FIXED 2^28 bits. At fixture
        # scale the wall is overhead-dominated (the probe is too cheap
        # to register) — the structural point is that the broadcast
        # side is fixed-size by construction, so nothing in the
        # train-side plan depends on eval size.
        ev = docs.filter(F.col("doc_id") % 50 == 0)
        r["bloom_decontam"] = timed(
            lambda: bloom_decontaminate(d, ev, "doc_id", "text",
                                        n=5).count())
        # k-means at 10x: a FIXED 16-cell codebook fits a bounded sample
        # (256 vectors per cell, one top-n collect), so the fit should
        # not grow with the corpus; only the sample's scan does.
        r["train_ivf_centroids"] = timed(
            lambda: train_ivf_centroids(e, "embedding", n_cells=16))
        # n_clusters scales with the corpus (the SemDeDup contract) so
        # the within-cluster quadratic term stays bounded. At sf0.1 both
        # sizes fit the in-line k-means sample (2,000 <= 4,096 and
        # 20,000 <= 40,960 vectors), so this row takes the driver path;
        # the fixed-codebook row times the distributed path (Arrow cell
        # assignment, one shuffle, grouped scan) over the same vectors.
        r["semantic_dedup"] = timed(
            lambda: semantic_dedup(e, "vec_id", "embedding", threshold=0.3,
                                   n_clusters=16 * factor, dim=64).count())
        codebook = train_ivf_centroids(e, "embedding", n_cells=16 * factor)
        r["semantic_dedup_fixed_codebook"] = timed(
            lambda: semantic_dedup(e, "vec_id", "embedding", threshold=0.3,
                                   n_clusters=16 * factor, dim=64,
                                   centroids=codebook).count())
        # Incremental maintenance (r7): the daily-ops claim is that
        # probing a FIXED new batch costs ~O(batch + compact index
        # read), NOT O(corpus text) — so the probe wall must stay
        # near-flat while the corpus behind the index grows 10x. The
        # index build is the one-time (per-landing amortized) cost and
        # is timed separately.
        idx = None

        def _ibuild():
            nonlocal idx
            idx = corpus_index(d, "doc_id", "text",
                               probe="minhash").localCheckpoint(
                                   eager=True)
        r["incr_index_build"] = timed(_ibuild)
        batch = (docs.limit(2000)
                 .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                         "text").localCheckpoint(eager=True))
        r["incr_probe_fixed_batch"] = timed(
            lambda: incremental_dedup(batch, idx, probe="minhash",
                                      threshold=0.5,
                                      within_batch="none").count())
        # Global shuffle (r7): one narrow key projection + one hash
        # exchange + per-shard window sorts — wall must grow ~linearly
        # in rows (flat rows/s), never superlinearly (a global
        # single-partition sort would).
        # .first() (NOT .count()) so max(pos) is actually computed —
        # count-of-one-aggregate-row lets the optimizer prune the
        # window, exchange and md5 projection to an empty plan
        r["global_shuffle"] = timed(
            lambda: global_shuffle(d, "doc_id", num_shards=32)
            .agg(F.max("pos")).first())
        # Count-Min sketch (r7): input tokens grow 10x but the sketch
        # stays <= depth*width CELLS at any corpus size — wall grows
        # ~linearly in the scan, the shuffle is fixed-size.
        cms = None

        def _cms():
            nonlocal cms
            cms = cms_build(
                d.select(F.explode(tokens("text")).alias("t")),
                "t", depth=4, width=4096).localCheckpoint(eager=True)
        r["cms_build"] = timed(_cms)
        r["cms_cells"] = cms.count()      # bounded: <= 4 * 4096 at 10x
        # Datasheet (r7): one scan + one tiny-key aggregate — flat
        # per-row cost, output stays |groups| rows.
        r["datasheet"] = timed(
            lambda: corpus_datasheet(
                d.withColumn("source",
                             (F.col("doc_id") % 20).cast("string")),
                "source").count())

        # Bin packing (r7): the only shuffle moves (id, n_tokens) —
        # two longs per doc, never text — so wall tracks the token-count
        # scan; the per-shard sequential loop is O(shard size).
        r["pack_bins"] = timed(
            lambda: pack_bins(d, "doc_id", "text",
                              budget=512, n_shards=32)
            .groupBy("shard").agg(F.max("bin_id")).count())

        # pack_token_blocks (r10): materialize the packed blocks from
        # a cheap per-doc id proxy (hash-derived ints, ~|tokens| ids
        # per doc — the packing cost model, not the tokenizer's). The
        # sequential state is a window over two longs/doc; arrays move
        # through one join + one fine-keyed groupBy — wall must track
        # total id volume (~linear in corpus), never a single-
        # partition sort.
        from serverless_data_pipeline_spark.operators.corpus import (
            pack_token_blocks,
        )
        ids_proxy = d.select(
            "doc_id",
            F.transform(tokens("text"),
                        lambda t: F.pmod(F.xxhash64(t), F.lit(1000))
                        .cast("int")).alias("ids"))
        r["pack_blocks"] = timed(
            lambda: pack_token_blocks(ids_proxy, "doc_id", "ids",
                                      block_len=512, eos_id=1000,
                                      n_shards=32)
            .groupBy("shard").agg(F.max("block_id")).count())

        # Real-vocab-scale encode (r11): a synthetic 32k-entry vocab
        # (production artifact size) rides the broadcast path — the
        # vocab ships once per executor as a broadcast variable and
        # the plan carries ZERO vocab-sized literals, so wall tracks
        # the corpus scan + merge loop, independent of vocab size
        # (the literal path at this size is the documented
        # plan-blowup failure class and is auto-avoided).
        from serverless_data_pipeline_spark.operators.bpe import (
            bpe_encode_ids,
        )
        from serverless_data_pipeline_spark.operators.bpe_artifact import (
            COMMITTED_MERGES, padded_vocab,
        )
        vocab32k = padded_vocab(32_000)
        r["bpe_encode_32k_vocab"] = timed(
            lambda: bpe_encode_ids(d, "text", COMMITTED_MERGES,
                                   vocab32k, byte_fallback=True)
            .agg(F.sum(F.size("token_ids"))).first())

        # PageRank (r7 s6): 5 fixed iterations over the amplified
        # near-dup pair graph — per-iteration cost is one (node, long)
        # join + one map-side-combinable groupBy, so wall must track
        # the EDGE count (which amplification grows ~1000x via pair
        # density), never anything quadratic in nodes.
        from serverless_data_pipeline_spark.operators.graph import (
            pagerank,
        )
        r["pagerank_5it"] = timed(
            lambda: pagerank(pairs.select(F.col("id_a").alias("src"),
                                          F.col("id_b").alias("dst")),
                             undirected=True, iters=5)
            .agg(F.max("rank")).first())
        # Duplicated-ngram fraction (r7 s6): two keyed shuffles on
        # hashed-long shingles + one doc-grain groupBy — linear in
        # token count even though amplification makes EVERY 5-gram
        # ~10-way duplicated.
        from serverless_data_pipeline_spark.operators.dedup import (
            duplicate_ngram_fraction,
        )
        r["dup_ngram_frac"] = timed(
            lambda: duplicate_ngram_fraction(d, "doc_id", "text", n=5)
            .agg(F.max("dup_ngram_frac")).first())
        # r8: the hot-shingle lever under the SAME amplified density —
        # max_doc_freq=8 treats the amplification-duplicated bulk as
        # boilerplate, so the doc-frequency join's build side collapses
        # to the under-cap minority (the 100 TB boilerplate scenario).
        r["dup_ngram_cap"] = timed(
            lambda: duplicate_ngram_fraction(d, "doc_id", "text", n=5,
                                             max_doc_freq=8)
            .agg(F.max("dup_ngram_frac")).first())
        # r14 (r13 verdict #5): lm_score's bigram pass at 1x/10x — the
        # c1-from-c12 marginal derivation saves one corpus-scale
        # explode+shuffle per build, and the saving must GROW with
        # corpus size (the duplicated distinct-bigram aggregation it
        # pays instead is bounded by vocab², not corpus size).
        from serverless_data_pipeline_spark.operators.text import (
            lm_score,
        )
        r["lm_score_self"] = timed(
            lambda: lm_score(d, "doc_id", "text")
            .agg(F.max("lm_logp")).first())
        # r9 (r8 verdict #4): the SAME metric on a realistic-skew
        # corpus — singleton-majority shingles + a tiny hot boilerplate
        # set. Evidence rows: the df>=2 prefilter's build-side cut
        # (skew_df2_shingles vs skew_total_shingles — the 'singleton
        # majority never enters the join' claim, now measured) and the
        # exact-vs-capped walls on the shape where the cap's doc lists
        # are the only heavy keys.
        skew = skew_docs(spark, 5000 * factor).localCheckpoint(
            eager=True)
        ssh = skew.select(F.explode(F.array_distinct(
            shingles_from_tokens(tokens("text"), 5))).alias("s"))
        sdf = (ssh.groupBy("s").agg(F.count("*").alias("c"))
               .localCheckpoint(eager=True))
        r["skew_total_shingles"] = sdf.count()
        r["skew_df2_shingles"] = sdf.filter("c >= 2").count()
        r["skew_dupfrac"] = timed(
            lambda: duplicate_ngram_fraction(skew, "doc_id", "text",
                                             n=5)
            .agg(F.max("dup_ngram_frac")).first())
        r["skew_dupfrac_cap"] = timed(
            lambda: duplicate_ngram_fraction(skew, "doc_id", "text",
                                             n=5, max_doc_freq=100)
            .agg(F.max("dup_ngram_frac")).first())
        # Host PageRank (r8): the amplified pair graph lifted to 500
        # synthetic hosts — per-iteration state is (host, long), so
        # the rank cost is bounded by the HOST graph regardless of the
        # 1000x doc-pair density; what grows is the one lift join.
        from serverless_data_pipeline_spark.operators.urls import (
            host_rank,
        )
        dochost = d.select(
            "doc_id", F.concat(F.lit("h"), (F.col("doc_id") % 500)
                               .cast("string")).alias("host"))
        r["host_rank_3it"] = timed(
            lambda: host_rank(pairs, dochost, iters=3)
            .agg(F.max("rank")).first())
        # Mega-host quota skew (r9 verdict #3): ONE host holds 50% of
        # a 500k-doc corpus (5M at 10x), quota 1000, everyone else
        # default-capped at 50. The window path sorts the mega-host's
        # whole row set in one partition; the bucketed path splits it
        # across 256 prefix buckets and drops past-cap buckets BEFORE
        # any sort, so its wall should stay near-flat as the mega
        # host grows.
        from serverless_data_pipeline_spark.operators.urls import (
            host_quota_sample,
        )
        mega = (spark.range(500_000 * factor)
                .select(F.col("id").alias("doc_id"),
                        F.when(F.col("id") % 2 == 0,
                               F.lit("mega.example.com"))
                        .otherwise(F.concat(
                            F.lit("h"), (F.col("id") % 9973)
                            .cast("string"))).alias("host"))
                .localCheckpoint(eager=True))
        r["n_mega_docs"] = mega.count()
        # min-of-3 (the standalone probe's discipline, and what the
        # README row records): the first pass pays JIT/codegen warm-up
        # that swings 2-4x on this synthetic frame and would mask the
        # mode comparison the row exists to make
        for mode in ("window", "bucketed"):
            r[f"hquota_mega_{mode}"] = min(
                timed(lambda m=mode: host_quota_sample(
                    mega, {"mega.example.com": 1000},
                    default_quota=50, rank_via=m).count())
                for _ in range(3))
        # Ordered variant (r10): same skew, keep-the-BEST by a score.
        # The window path sorts the mega-host's whole set by score in
        # one partition; the ordered bucketed path range-buckets on
        # the GLOBAL score distribution, so only the top buckets
        # survive the past-cap drop and the surviving sorts are
        # bounded — wall should fall well below window as the host
        # grows.
        megaq = (mega.withColumn(
                     "q", F.pmod(F.xxhash64("doc_id"), F.lit(100_000))
                     .cast("double"))
                 .localCheckpoint(eager=True))
        for mode in ("window", "bucketed"):
            r[f"hquota_mega_{mode}_ordered"] = min(
                timed(lambda m=mode: host_quota_sample(
                    megaq, {"mega.example.com": 1000},
                    default_quota=50, rank_via=m,
                    order_col="q").count())
                for _ in range(3))
        megaq.unpersist()
        mega.unpersist()
        # Version drift (r8): two single-scan profiles + the tag-union
        # category aggregation — flat per-row, output |categories| rows.
        from serverless_data_pipeline_spark.operators.stages import (
            mix_shift_summary, profile_drift,
        )
        dv = d.withColumn("cat", (F.col("doc_id") % 20).cast("string"))
        dv2 = d.withColumn("cat", ((F.col("doc_id") + 1) % 20)
                           .cast("string"))
        r["mix_shift"] = timed(
            lambda: mix_shift_summary(dv, dv2, "cat").first())
        # .first() on a REAL delta — count() would let nested-column
        # pruning drop the profile statistics this row claims to time
        # (the same pitfall the global_shuffle row documents)
        r["profile_drift"] = timed(
            lambda: profile_drift(dv, dv2)
            .agg(F.max("null_frac_delta"), F.max("vavg_delta"),
                 F.max("distinct_rate_delta")).first())

        # Packing tick (r12 verdict #1): the log-structured packed
        # state grows with the corpus, but an ORDINARY tick must read
        # O(batch) — resume starts from the |shards|-row tail-manifest
        # sidecar, never the state parquet. Evidence: bootstrap a
        # state that grows with `factor`, then commit one FIXED
        # 2k-doc batch. The manifest tick's wall must stay ~flat at
        # 10x state; the manifest-stripped twin (the scan fallback —
        # exactly the pre-r12 shape) pays the state scan and grows.
        import shutil
        import tempfile

        from serverless_data_pipeline_spark.operators.corpus import (
            commit_packed_batch,
        )
        pkw = dict(block_len=512, eos_id=1000, n_shards=32,
                   compact_every=10**6)
        ids40 = F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda i: F.pmod(F.xxhash64(F.col("id"), i),
                             F.lit(1000)).cast("int"))
        stdocs = (spark.range(20_000 * factor)
                  .select(F.col("id").alias("doc_id"),
                          ids40.alias("token_ids")))
        tick_batch = (spark.range(2_000)
                      .select((F.col("id") + 100_000_000)
                              .alias("doc_id"),
                              ids40.alias("token_ids")))
        tick2 = (spark.range(2_000)
                 .select((F.col("id") + 200_000_000).alias("doc_id"),
                         ids40.alias("token_ids")))
        sproot = tempfile.mkdtemp(prefix="spark_graft_packstate_")
        try:
            for variant in ("manifest", "scan"):
                sp = f"{sproot}/{variant}"
                commit_packed_batch(spark, stdocs, sp, 0, **pkw)
                if variant == "scan":
                    shutil.rmtree(f"{sp}/v000000000000/_tails")
                # tick 1 warms codegen/JIT; tick 2 is the measured
                # steady-state tick (for the scan twin, strip tick 1's
                # manifest too so the fallback really rescans)
                commit_packed_batch(spark, tick_batch, sp, 1, **pkw)
                if variant == "scan":
                    shutil.rmtree(f"{sp}/v000000000001/_tails")
                r[f"packing_tick_{variant}"] = timed(
                    lambda sp=sp: commit_packed_batch(
                        spark, tick2, sp, 2, **pkw))
        finally:
            shutil.rmtree(sproot, ignore_errors=True)

        # train_bpe at PRODUCTION merge counts (r12 verdict #1): the
        # auto driver path — one distributed word count, then the
        # exact canonical greedy loop (incremental pair counts + lazy
        # heap) over the collected |vocab|-row table — trains 16,384
        # merges over the vocabulary-rich skew corpus. r12's
        # distributed batched loop measured 0.112 s/merge at 4,096
        # merges (460 s at 1x / 960 s at 10x); the driver loop's cost
        # is the word count + collect (~linear in corpus) plus a merge
        # loop that scales with |vocab| — NOT corpus rows — so s/merge
        # collapses (r13 measured: 46 s at 1x / 583 s at 10x, i.e.
        # 2.8->36 ms/merge; the 10x growth is this fixture's
        # all-singleton vocab growing 10x by construction, the regime
        # Heaps' law spares real corpora).
        from serverless_data_pipeline_spark.operators.bpe import (
            train_bpe,
        )
        learned = []

        def _tb():
            learned.extend(train_bpe(skew, "text", n_merges=16384))
        r["train_bpe_16384_driver"] = timed(_tb)
        r["train_bpe_16384_learned"] = len(learned)

        # the wall-vs-merges_per_round curve for the DISTRIBUTED
        # fallback (vocab too big to collect), 1x only: rounds are
        # bounded below by disjointness CONFLICTS (~9 accepted
        # merges/round early on this fixture regardless of K), so the
        # curve flattens past K~128 — each round costs ~1 s of job
        # floor, which is exactly why the driver path exists.
        if factor == 1:
            for k in (16, 64, 256):
                got = []

                def _tbk(k=k, got=got):
                    got.extend(train_bpe(
                        skew, "text", n_merges=512,
                        merges_per_round=k, driver_side=False))
                r[f"train_bpe_dist512_k{k}"] = timed(_tbk)
                assert len(got) == 512, (k, len(got))

        # Relational flagships at amplified fact density (r5 verdict #7):
        # same plan shapes as __spark_entry__ q3/q5/q10 (dimension
        # broadcasts, pushed filters, TakeOrderedAndProject) with the
        # amplified lineitem injected. Near-linear wall growth (flat
        # rows/s) is the pass signal — a join-order or broadcast
        # regression shows up as superlinear wall at 10x.
        li = (li_base if factor == 1
              else amplified_lineitem(li_base, factor)
              ).localCheckpoint(eager=True)
        n_li = li.count()
        r["n_lineitem"] = n_li
        rev = F.sum(F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))).alias("revenue")

        def _q3():
            cb = cust.filter(F.col("c_mktsegment") == "BUILDING")
            return (li.join(orders, li.l_orderkey == orders.o_orderkey)
                    .join(cb, orders.o_custkey == cb.c_custkey)
                    .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
                    .agg(rev)
                    .orderBy(F.col("revenue").desc(), "l_orderkey")
                    .limit(10).count())

        def _q5():
            reg = region.filter(F.col("r_name") == "ASIA")
            o = orders.filter((F.col("o_orderdate") >= "1996-01-01")
                              & (F.col("o_orderdate") < "1998-01-01"))
            return (li.join(o, li.l_orderkey == o.o_orderkey)
                    .join(cust, o.o_custkey == cust.c_custkey)
                    .join(supp, (li.l_suppkey == supp.s_suppkey)
                          & (cust.c_nationkey == supp.s_nationkey))
                    .join(nation, supp.s_nationkey == nation.n_nationkey)
                    .join(reg, nation.n_regionkey == reg.r_regionkey)
                    .groupBy("n_name").agg(rev)
                    .orderBy(F.col("revenue").desc()).count())

        def _q10():
            o = orders.filter((F.col("o_orderdate") >= "1996-01-01")
                              & (F.col("o_orderdate") < "1996-07-01"))
            lr = li.filter(F.col("l_returnflag") == "R")
            return (lr.join(o, lr.l_orderkey == o.o_orderkey)
                    .join(cust, o.o_custkey == cust.c_custkey)
                    .join(nation, cust.c_nationkey == nation.n_nationkey)
                    .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
                    .agg(rev)
                    .orderBy(F.col("revenue").desc(), "c_custkey")
                    .limit(20).count())

        for name, fn in (("q3", _q3), ("q5", _q5), ("q10", _q10)):
            r[name] = timed(fn)
            r[f"{name}_rows_per_s"] = (round(n_li / r[name])
                                       if r[name] else None)
        out[f"{factor}x"] = r
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
