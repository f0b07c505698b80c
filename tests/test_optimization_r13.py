"""Focused pins for the r13 optimization round's operator-internal
changes: results must be bit-identical to the pre-optimization forms;
only the physical schedule/layout may differ.

- build_concurrently: order preservation + exception propagation (the
  §2.6 helper every threaded union build rides on).
- spread_checkpoint: respreads a small AQE-coalesced leaf, leaves a
  well-partitioned frame untouched, never changes rows.
- pagerank checkpoint_every: cadence-independence of every rank (the
  truncation-never-changes-arithmetic claim, pinned).
- contamination_report: n_total (now ridden through the explode)
  equals the independently-computed per-doc distinct-shingle count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_pipeline_spark.operators.util import (
    build_concurrently, spread_checkpoint,
)


def test_build_concurrently_preserves_call_order(spark):
    out = build_concurrently(lambda: 1, lambda: "two", lambda: [3])
    assert out == [1, "two", [3]]


def test_build_concurrently_single_thunk_runs_inline(spark):
    assert build_concurrently(lambda: 42) == [42]


def test_build_concurrently_jobs_keep_callers_job_group(spark):
    # local properties are per thread: without the copy, pool-thread
    # jobs carry no job group and the group below stays empty
    sc = spark.sparkContext
    sc.setJobGroup("concurrent-build", "concurrent-build")
    try:
        out = build_concurrently(lambda: spark.range(10).count(),
                                 lambda: spark.range(20).count())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert out == [10, 20]
    assert len(sc.statusTracker().getJobIdsForGroup("concurrent-build")) >= 2


def test_build_concurrently_propagates_exceptions(spark):
    def boom():
        raise ValueError("arm failed")

    with pytest.raises(ValueError, match="arm failed"):
        build_concurrently(lambda: 1, boom)


def test_spread_checkpoint_respreads_small_coalesced_frame(spark):
    # A tiny aggregate output AQE-coalesces to 1-2 partitions; the
    # checkpoint leaf must come back wide enough to use the session's
    # cores, with the exact same rows.
    df = (spark.range(0, 1000)
          .groupBy((F.col("id") % 100).alias("k"))
          .agg(F.count("*").alias("n")))
    ckpt = spread_checkpoint(df)
    target = spark.sparkContext.defaultParallelism
    assert ckpt.rdd.getNumPartitions() >= max(2, target // 2)
    got = sorted((r["k"], r["n"]) for r in ckpt.collect())
    assert got == [(k, 10) for k in range(100)]


def test_spread_checkpoint_leaves_wide_frames_untouched(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10000, numPartitions=target * 2)
    ckpt = spread_checkpoint(wide)
    # already at 2x parallelism: no respread (the second checkpoint
    # would show up as a changed partition count)
    assert ckpt.rdd.getNumPartitions() == target * 2
    assert ckpt.count() == 10000


@pytest.mark.parametrize("directed", [False, True])
def test_pagerank_checkpoint_cadence_never_changes_ranks(spark, directed):
    from serverless_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 4), (6, 4), (4, 6)],
        "src long, dst long")
    base = {(r["id"], r["rank"])
            for r in pagerank(edges, iters=5, undirected=not directed,
                              checkpoint_every=1).collect()}
    for cadence in (2, 3, 6, 100):
        got = {(r["id"], r["rank"])
               for r in pagerank(edges, iters=5,
                                 undirected=not directed,
                                 checkpoint_every=cadence).collect()}
        assert got == base, f"cadence {cadence} changed ranks"


def test_contamination_report_ridden_n_total_is_exact(spark):
    from serverless_data_pipeline_spark.functions.text import (
        shingles_from_tokens, tokens,
    )
    from serverless_data_pipeline_spark.operators.corpus import (
        contamination_report,
    )

    train = spark.createDataFrame(
        [(1, "a b c d e f g h"),          # shares the eval 5-gram
         (2, "a b c d e x y z w v u"),    # shares one 5-gram too
         (3, "totally different words entirely here now")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(10, "a b c d e")], "doc_id long, text string")
    rep = {r["doc_id"]: r for r in
           contamination_report(train, ev, "doc_id", "text", n=5)
           .collect()}
    totals = {r["doc_id"]: r["nt"] for r in train.select(
        "doc_id",
        F.size(F.array_distinct(
            shingles_from_tokens(tokens("text"), 5))).alias("nt"))
        .collect()}
    assert set(rep) == {1, 2}              # doc 3 is clean
    for d, row in rep.items():
        assert row["n_total"] == totals[d]
        assert row["n_overlap"] == 1
        assert row["top_eval_id"] == 10
        assert row["frac_overlap"] == round(1 / totals[d], 6)
