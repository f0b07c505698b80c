"""End-to-end LLM corpus pipeline: planted exact dups, near-dups,
foreign-language and low-quality docs must each be removed by their stage."""

from __future__ import annotations

import pytest

from serverless_data_pipeline_spark.plans.corpus_pipeline import (
    prepare_training_corpus,
)

GOOD = ("the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the tall green hills of the valley and the river")
NEAR = GOOD.replace("lazy", "sleepy")
GOOD2 = ("a completely different and very clean document about query "
         "engines and the art of distributed data processing in the cloud")


def test_corpus_pipeline_stages(spark):
    docs = spark.createDataFrame(
        [(1, GOOD),
         (2, GOOD),            # exact dup of 1 -> dropped
         (3, NEAR),            # near dup of 1 -> dropped
         (4, GOOD2),           # survives
         (5, "el que la los es la que el los es"),   # spanish -> dropped
         (6, "x!!! ???")],     # low quality -> dropped
        "doc_id long, text string")
    res = prepare_training_corpus(docs, languages=("en",), min_quality=0.5,
                                  jaccard_threshold=0.5)
    assert res.counts["input"] == 6
    assert res.counts["after_exact_dedup"] == 5     # doc 2 gone
    assert res.counts["after_near_dedup"] == 4      # doc 3 gone
    assert res.counts["clean"] == 2                 # docs 5,6 gone
    assert sorted(r.doc_id for r in res.clean.collect()) == [1, 4]
    stats = res.stats.collect()
    assert len(stats) == 1
    assert stats[0].n_docs == 2
    assert stats[0].total_tokens > 0


def test_corpus_pipeline_exact_clusters(spark):
    docs = spark.createDataFrame(
        [(1, GOOD), (2, GOOD), (3, NEAR), (4, GOOD2)],
        "doc_id long, text string")
    res = prepare_training_corpus(docs, languages=("en",), min_quality=0.5,
                                  jaccard_threshold=0.5,
                                  exact_clusters=True)
    # same outcome as greedy on this graph, via true components
    assert sorted(r.doc_id for r in res.clean.collect()) == [1, 4]


def test_corpus_pipeline_repetition_and_decontamination_stages(spark):
    looping = ("the cat sat on the mat " * 8       # dup-trigram heavy
               + "and that is the end of it all")
    res_docs = spark.createDataFrame(
        [(1, GOOD), (2, GOOD2), (3, looping)],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        # shares the 5-gram "the quick brown fox jumps" with GOOD
        [(99, "we begin thus the quick brown fox jumps again here")],
        "doc_id long, text string")

    base = prepare_training_corpus(res_docs, languages=("en",),
                                   min_quality=0.5, jaccard_threshold=0.5)
    assert sorted(r.doc_id for r in base.clean.collect()) == [1, 2, 3]

    rep = prepare_training_corpus(res_docs, languages=("en",),
                                  min_quality=0.5, jaccard_threshold=0.5,
                                  max_dup_ngram_ratio=0.5)
    assert sorted(r.doc_id for r in rep.clean.collect()) == [1, 2]

    full = prepare_training_corpus(res_docs, languages=("en",),
                                   min_quality=0.5, jaccard_threshold=0.5,
                                   max_dup_ngram_ratio=0.5, eval_docs=ev)
    assert sorted(r.doc_id for r in full.clean.collect()) == [2]


def test_corpus_pipeline_passage_and_semantic_stages(spark):
    boiler = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, f"{GOOD} {boiler}"),      # corpus-first occurrence: kept
         (2, f"{GOOD2} {boiler}"),     # later copy: excised, doc survives
         (3, f"{boiler} another fine document about engines and rivers "
             "flowing through the quiet valley during a long warm summer"),
         (4, boiler),                  # pure boilerplate -> vanishes
         (7, f"{GOOD} {boiler}")],     # exact dup of 1 -> exact stage
        "doc_id long, text string")
    # embeddings: doc 3 is a semantic dup of doc 1 (same direction), doc
    # 2 distinct; doc 4 has no embedding row. Doc 7's row is STALE (doc 7
    # dies in exact dedup) and must not be allowed to win doc 1/3's
    # semantic family — the pipeline semi-joins embeddings on live ids.
    emb = spark.createDataFrame(
        [(7, [1.0, 0.0005, 0.0, 0.1]),
         (1, [1.0, 0.0, 0.0, 0.1]),
         (3, [1.0, 0.001, 0.0, 0.1]),
         (2, [-1.0, 0.5, 0.2, -0.8])],
        "doc_id long, embedding array<double>")
    res = prepare_training_corpus(
        docs, languages=("en",), min_quality=0.3, jaccard_threshold=0.9,
        passage_k=8, embeddings=emb, semantic_threshold=0.95,
        semantic_clusters=2)
    kept = {r.doc_id: r.text for r in res.clean.collect()}
    # doc 4 excised to nothing; doc 3 dropped as a semantic dup of 1;
    # doc 1 survives (its family's stale doc-7 row was excluded)
    assert set(kept) == {1, 2}
    # doc 1 keeps the corpus-first copy; doc 2's later copy was excised
    # before the quality/language scoring saw it
    assert "b0" in kept[1]
    assert "b0" not in kept[2] and kept[2].startswith("a completely")
    # per-stage attrition is attributed to the right stage
    assert res.counts["after_exact_dedup"] == 4     # doc 7 gone
    assert res.counts["after_near_dedup"] == 4
    assert res.counts["after_passage_dedup"] == 3   # doc 4 gone
    assert res.counts["after_semantic_dedup"] == 2  # doc 3 gone
    assert res.counts["clean"] == 2


def test_corpus_pipeline_passage_keeps_tokenless_docs(spark):
    # a whitespace-only doc must pass the passage stage untouched, same
    # as with passage_k=None (it has no windows, nothing was excised)
    docs = spark.createDataFrame(
        [(1, GOOD), (2, "   ")], "doc_id long, text string")
    res = prepare_training_corpus(docs, languages=("en",), min_quality=0.0,
                                  jaccard_threshold=0.9, passage_k=8)
    assert res.counts["after_passage_dedup"] == 2


def test_corpus_pipeline_null_text_path_parity(spark):
    # The passage stage must treat NULL text exactly like the
    # passage_k=None path does (ADVICE r5: trim(NULL)=='' is non-true,
    # so the stage's keep-filter needs an explicit isNull arm). Whether
    # a NULL doc survives the PIPELINE is decided upstream (exact dedup
    # drops it on both paths — NULL fp never equi-joins); the contract
    # here is that passage_k never changes that outcome.
    docs = spark.createDataFrame(
        [(1, GOOD), (2, None)], "doc_id long, text string")
    with_passage = prepare_training_corpus(
        docs, languages=("en",), min_quality=0.0, jaccard_threshold=0.9,
        passage_k=8)
    without = prepare_training_corpus(
        docs, languages=("en",), min_quality=0.0, jaccard_threshold=0.9)
    assert ({r.doc_id for r in with_passage.clean.collect()}
            == {r.doc_id for r in without.clean.collect()})
    # and the stage itself keeps a NULL-text row that reaches it
    from pyspark.sql import functions as F
    from serverless_data_pipeline_spark.operators.corpus import passage_dedup
    stage = spark.createDataFrame([(1, GOOD), (2, None)],
                                  "doc_id long, text string")
    rebuilt = (passage_dedup(stage, "doc_id", "text", k=8)
               .select("doc_id", F.col("text").alias("__ptext")))
    kept = (stage.join(rebuilt, "doc_id", "left")
            .filter(F.col("__ptext").isNotNull()
                    | (F.trim(F.col("text")) == "")
                    | F.col("text").isNull()))
    assert kept.count() == 2


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("exact_clusters", [False, True])
def test_corpus_pipeline_unpersist_releases_stage_caches(spark,
                                                        exact_clusters):
    docs = spark.createDataFrame(
        [(1, GOOD), (2, NEAR), (3, GOOD2)], "doc_id long, text string")
    before = _persisted_rdds(spark)
    res = prepare_training_corpus(docs, languages=("en",), min_quality=0.0,
                                  jaccard_threshold=0.5, passage_k=8,
                                  exact_clusters=exact_clusters)
    assert res.counts["after_near_dedup"] == 2      # 1 and 2 are a pair
    assert _persisted_rdds(spark) - before
    res.unpersist()
    # the stage caches AND the checkpoint leaves (which df.unpersist()
    # does not reach): nothing the call persisted outlives unpersist()
    assert _persisted_rdds(spark) - before == set()
    assert res.cached == [] and res.checkpoints == []


@pytest.mark.parametrize("rows", [[], [(1, None)]])
def test_empty_day_counts_zero(spark, rows):
    """An empty day, or one whose every text is NULL, returns its counts
    and an empty `clean`: AQE prunes a join with an empty side together
    with any Observation below it, so each count sits where no pruned
    branch can lose it. With embeddings the live set is empty too, and
    SemDeDup's sample count must still arrive."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = spark.createDataFrame([(1, [1.0, 0.0])],
                                "doc_id long, embedding array<double>")
    for embeddings in (None, emb):
        res = prepare_training_corpus(docs, passage_k=8,
                                      embeddings=embeddings)
        try:
            assert res.clean.count() == 0
            want = {"input": len(rows), "after_exact_dedup": 0,
                    "after_near_dedup": 0, "after_passage_dedup": 0,
                    "clean": 0}
            if embeddings is not None:
                want["after_semantic_dedup"] = 0
            assert res.counts == want
        finally:
            res.unpersist()


def test_live_docs_without_embeddings_keep_their_counts(spark):
    """Docs survive but none has a live embedding: SemDeDup sees an
    empty frame and drops nothing."""
    docs = spark.createDataFrame([(1, GOOD), (4, GOOD2)],
                                 "doc_id long, text string")
    emb = spark.createDataFrame([(7, [1.0, 0.0])],
                                "doc_id long, embedding array<double>")
    res = prepare_training_corpus(docs, embeddings=emb)
    try:
        assert res.counts["after_semantic_dedup"] == 2
        assert sorted(r.doc_id for r in res.clean.collect()) == [1, 4]
    finally:
        res.unpersist()


BOILER = " ".join(f"b{i}" for i in range(8))
# docs 10-19 = one doc per stage that must remove it, plus two survivors
EVERY_STAGE_DOCS = [
    (10, f"{GOOD} {BOILER}"),                       # survives
    (11, f"{GOOD2} {BOILER}"),                      # survives, excised
    (12, f"{GOOD} {BOILER}"),                       # exact dup of 10
    (13, f"{NEAR} {BOILER}"),                       # near dup of 10
    (14, BOILER),                                   # pure boilerplate
    # semantic twin of 10
    (15, f"{BOILER} another fine document about engines and rivers "
         "flowing through the quiet valley during a long warm summer"),
    (16, "el que la los es la que el los es"),      # language gate
    (17, "x!!! ???"),                               # quality gate
    # repetition gate: a repeated trigram, but no repeated 8-token passage
    (18, " ".join(f"we like it {w}" for w in
                  ("apples pears plums grapes lemons melons berries "
                   "cherries peaches mangoes").split())),
    # decontamination
    (19, "the engineers measure river flow and then report the daily "
         "numbers to the regional water office every single morning"),
]
EVERY_STAGE_COUNTS = {"input": 10, "after_exact_dedup": 9,
                      "after_near_dedup": 8, "after_passage_dedup": 7,
                      "after_semantic_dedup": 6, "clean": 2}


# 15 is a semantic twin of 10; 12's row is stale (it dies in exact
# dedup); docs without a row are kept
EVERY_STAGE_EMB = [(12, [1.0, 0.0005, 0.0, 0.1]), (10, [1.0, 0.0, 0.0, 0.1]),
                   (15, [1.0, 0.001, 0.0, 0.1]), (11, [-1.0, 0.5, 0.2, -0.8])]
# shares the 5-gram "engineers measure river flow and" with doc 19
EVAL_DOCS = [(99, "we saw that engineers measure river flow and sleep")]
SEMANTIC = {"semantic_threshold": 0.95, "semantic_clusters": 2}
GATES = {"languages": ("en",), "min_quality": 0.3,
         "max_dup_ngram_ratio": 0.2}


def _every_stage_run(spark, docs=None, emb_rows=EVERY_STAGE_EMB):
    if docs is None:
        docs = spark.createDataFrame(EVERY_STAGE_DOCS,
                                     "doc_id long, text string")
    emb = spark.createDataFrame(emb_rows,
                                "doc_id long, embedding array<double>")
    ev = spark.createDataFrame(EVAL_DOCS, "doc_id long, text string")
    return prepare_training_corpus(
        docs, jaccard_threshold=0.5, exact_clusters=True, passage_k=8,
        embeddings=emb, eval_docs=ev, **SEMANTIC, **GATES)


def test_semantic_branch_beside_gates_equals_sequential_order(spark):
    """SemDeDup runs beside the gates and its dropped ids are anti-joined
    after them. The rows, stats and every count must equal the order
    it replaces: the semantic anti-join on the passage output, then the
    gates. Doc 16 is a semantic twin of 10 that the language gate also
    drops; doc 15 has two embedding rows, both twins of 10."""
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup
    from serverless_data_pipeline_spark.operators.text import LANG_MARKERS

    emb_rows = EVERY_STAGE_EMB + [(15, [1.0, 0.0012, 0.0, 0.1]),
                                  (16, [1.0, 0.0008, 0.0, 0.1])]
    res = _every_stage_run(spark, emb_rows=emb_rows)
    got = ({tuple(r) for r in res.clean.collect()},
           [tuple(r) for r in res.stats.collect()])

    # the sequential order, built from the same operators: the dedup
    # stages with every gate open ...
    docs = spark.createDataFrame(EVERY_STAGE_DOCS, "doc_id long, text string")
    up = prepare_training_corpus(
        docs, languages=(*LANG_MARKERS, "zh", "und"),
        min_quality=float("-inf"), jaccard_threshold=0.5,
        exact_clusters=True, passage_k=8)
    assert up.counts["clean"] == up.counts["after_passage_dedup"]
    # ... then SemDeDup over the live embeddings and its anti-join ...
    emb = spark.createDataFrame(emb_rows,
                                "doc_id long, embedding array<double>")
    live = emb.join(up.clean.select("doc_id"), "doc_id", "left_semi")
    dropped = (semantic_dedup(live, "doc_id", "embedding",
                              threshold=SEMANTIC["semantic_threshold"],
                              n_clusters=SEMANTIC["semantic_clusters"])
               .filter("NOT keep").select("doc_id"))
    after_semantic = up.clean.join(dropped, "doc_id", "left_anti")
    # ... then the gates (the dedup stages rerun on deduped rows: no-ops)
    ev = spark.createDataFrame(EVAL_DOCS, "doc_id long, text string")
    gated = prepare_training_corpus(
        after_semantic, jaccard_threshold=0.5, exact_clusters=True,
        eval_docs=ev, **GATES)
    n_semantic = after_semantic.count()
    assert gated.counts["after_near_dedup"] == n_semantic
    want = ({tuple(r) for r in gated.clean.collect()},
            [tuple(r) for r in gated.stats.collect()])
    want_counts = {k: up.counts[k] for k in (
        "input", "after_exact_dedup", "after_near_dedup",
        "after_passage_dedup")}
    want_counts.update(after_semantic_dedup=n_semantic,
                       clean=gated.counts["clean"])
    for r in (res, up, gated):
        r.unpersist()
    assert got == want
    assert res.counts == want_counts
    assert {r[0] for r in got[0]} == {10, 11}
    assert res.counts["after_semantic_dedup"] == 5  # 15 and 16 gone


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_prepare_training_corpus_computes_each_stage_once(spark, tmp_path):
    from pyspark.sql import functions as F

    # every row the input scan yields passes this UDF (nondeterministic:
    # Catalyst may neither merge nor drop its evaluations)
    reads = spark.sparkContext.accumulator(0)

    def passthrough(text):
        reads.add(1)
        return text

    read_text = F.udf(passthrough, "string").asNondeterministic()
    docs = (spark.createDataFrame(EVERY_STAGE_DOCS, "doc_id long, text string")
            .withColumn("text", read_text("text")))
    clean_p, stats_p = str(tmp_path / "clean"), str(tmp_path / "stats")
    res, prep_jobs = _jobs_in_group(
        spark, "corpus-prepare", lambda: _every_stage_run(spark, docs))
    # the counts filled the clean cache: the write reads it, not the
    # gate chain and the eval broadcast
    scan = res.clean._jdf.queryExecution().executedPlan()
    if scan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        scan = scan.inputPlan()
    assert scan.getClass().getSimpleName() == "InMemoryTableScanExec"
    _, clean_jobs = _jobs_in_group(
        spark, "corpus-clean", lambda: res.clean.write.parquet(clean_p))
    _, stats_jobs = _jobs_in_group(
        spark, "corpus-stats", lambda: res.stats.write.parquet(stats_p))
    assert clean_jobs == 1
    # the input is read once per side of the exact-dedup join, by the
    # checkpoint job; every later stage, count and write reads the leaf
    assert reads.value == 2 * len(EVERY_STAGE_DOCS)
    # 102-104 jobs before the stage checkpoints and the clean cache, 76
    # after, 61 before the counts rode jobs that run anyway and the
    # passage rank probe went, 53 before SemDeDup finished on the driver
    # when its k-means sample holds every live embedding, 48 after
    # (local[4])
    assert prep_jobs + clean_jobs + stats_jobs <= 48
    rows = {tuple(r) for r in spark.read.parquet(clean_p).collect()}
    stats = [tuple(r) for r in spark.read.parquet(stats_p).collect()]
    res.unpersist()

    # a second run over the plain input reads the same rows and stats
    # from its own caches as the first run's writes committed
    again = _every_stage_run(spark)
    try:
        assert {tuple(r) for r in again.clean.collect()} == rows
        assert [tuple(r) for r in again.stats.collect()] == stats
    finally:
        again.unpersist()
    assert {r[0] for r in rows} == {10, 11}
    assert res.counts == EVERY_STAGE_COUNTS
    assert res.counts["clean"] == len(rows) == stats[0][1]
