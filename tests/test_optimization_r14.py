"""Focused pins for the r14 optimization round's operator-internal
changes (results bit-identical; only per-row evaluation count drops).

Tokenize-once (guide §2.3/§4.2): the text operators used to inline the
`tokens()` / line-split expression into every consumer reference —
each `tokens()` call mints fresh lambda-variable ids, so the planner's
subexpression elimination can NEVER merge them and the regex split
re-ran up to ~46x per row (language_id's argmax fold). The r14 form
materializes each heavy array exactly once in a nested Project. These
tests pin the per-row split count in the optimized plan so a future
refactor cannot silently reintroduce the duplication; value equality
is pinned by the oracle sweep and the existing operator tests.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "en"),
         (2, "el rapido zorro marron salta sobre el perro", "es"),
         (3, "la la la la la. one two three four five six!", "en"),
         (4, "", "en")],
        "doc_id long, text string, lang string")


def _count_splits(plan: str) -> int:
    return len(re.findall(r"split\(", plan))


def test_language_id_single_split(spark):
    from serverless_data_pipeline_spark.operators.text import language_id

    plan = _optimized(language_id(_docs(spark)))
    # one tokenization of lower(text), shared by all four marker scores
    assert _count_splits(plan) == 1


def test_language_id_filter_pushdown_single_split(spark):
    """A pushed-down predicted_lang filter inlines the whole language-id
    expression into the Filter: it must carry one tokenization, so the
    optimized plan holds two splits (the Filter's and the Project's),
    not one per copy of a per-language score."""
    from serverless_data_pipeline_spark.operators.text import language_id

    q = language_id(_docs(spark)).filter(F.col("predicted_lang").isin("en"))
    assert _count_splits(_optimized(q)) == 2
    assert [r.doc_id for r in q.collect()] == [1]


def test_quality_features_two_splits(spark):
    from serverless_data_pipeline_spark.operators.text import (
        quality_features,
    )

    plan = _optimized(quality_features(_docs(spark)))
    # tokens(text) + tokens(lower(text)) — nothing else re-splits
    assert _count_splits(plan) == 2
    # the punct/nonspace regexp_replace pair is shared by ratio + gate
    assert plan.count("regexp_replace") == 2


def test_repetition_signals_single_split(spark):
    from serverless_data_pipeline_spark.operators.text import (
        repetition_signals,
    )

    plan = _optimized(repetition_signals(_docs(spark)))
    assert _count_splits(plan) == 1


def test_gopher_rules_two_splits(spark):
    from serverless_data_pipeline_spark.operators.text import gopher_rules

    plan = _optimized(gopher_rules(_docs(spark)))
    # tokens(text) + tokens(lower(text)); the line array splits on \n
    assert _count_splits(plan) == 3


def test_c4_clean_single_line_split(spark):
    from serverless_data_pipeline_spark.operators.text import c4_clean

    plan = _optimized(c4_clean(_docs(spark)))
    assert _count_splits(plan) == 1 + 1  # line array + per-line word count


def test_decontaminate_one_split_per_side(spark):
    from serverless_data_pipeline_spark.operators.corpus import (
        decontaminate,
    )

    docs = _docs(spark)
    plan = _optimized(decontaminate(docs, docs.limit(2), "doc_id",
                                    "text", n=2))
    assert _count_splits(plan) == 2  # train side + eval side


def test_duplicate_ngram_fraction_single_split(spark):
    from serverless_data_pipeline_spark.operators.dedup import (
        duplicate_ngram_fraction,
    )

    plan = _optimized(duplicate_ngram_fraction(_docs(spark), n=2))
    # the (doc, hash) stream is referenced twice (doc-frequency side +
    # join side), so the split appears once per reference; the r13 form
    # re-split ~9x per reference (18 total)
    assert _count_splits(plan) == 2


def test_classifier_quality_score_single_split(spark):
    from serverless_data_pipeline_spark.operators.text import (
        classifier_quality_score, default_quality_weights,
    )

    plan = _optimized(classifier_quality_score(
        _docs(spark), weights=default_quality_weights()))
    assert _count_splits(plan) == 1


def test_spread_checkpoint_frees_abandoned_first_checkpoint(spark):
    """When spread_checkpoint respreads an AQE-coalesced leaf it must
    unpersist the abandoned first checkpoint's storage blocks (r14
    ADVICE: the py4j refs otherwise hold them until GC)."""
    from serverless_data_pipeline_spark.operators.util import (
        release_checkpoint, spread_checkpoint,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    # a 1-partition frame forces the respread path
    out = spread_checkpoint(spark.range(100).coalesce(1))
    after = jsc.getPersistentRDDs().size()
    # exactly ONE new persisted RDD survives (the respread checkpoint),
    # not two (respread + abandoned first checkpoint)
    assert after - before == 1
    assert out.count() == 100
    release_checkpoint(out)
    assert jsc.getPersistentRDDs().size() == before


def test_label_prop_converges_in_one_round_on_shallow_graph(spark):
    """r14 folded the convergence probe into each round's materializing
    action, so convergence is known every round and a depth-1 graph
    stops after ONE propagation round (the r13 schedule always ran
    three). Pin via the driver job count: one edge checkpoint + one
    init + one fused propagate+probe job, plus small constant overhead
    — well under the r13 floor of ~7 jobs for the same graph."""
    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (10, 11)], "id_a long, id_b long")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    out = neardup_components(pairs, algorithm="label_prop")
    got = {r["id"]: r["component_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10}
    jobs = len(tracker.getJobIdsForGroup(None)) - before
    # AQE materializes each shuffle stage as its own job, so the
    # absolute count is higher than the action count. Measured on this
    # graph: 11 jobs with the fused probe + round-0 exit vs 29 for the
    # r13 schedule (rounds 0-2 always ran, separate probe joins). The
    # bound sits between the two so a reintroduced probe/extra-round
    # schedule fails while AQE stage-count jitter does not.
    assert jobs <= 18, jobs


def test_bench_default_json_line_fits_tail_window():
    """r13 PERF lost its entire round-over-round table because the
    bench's one-line JSON (with ~47 subquery entries) outgrew the
    driver's tail buffer and truncated mid-`queries`. Pin the default
    (non-verbose) line comfortably under 2 KB with every headline
    query present at worst-case magnitudes."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import bench

    times = {name: 123.456 for name in bench.HEADLINE}
    line = json.dumps(bench.payload(
        total=9999.999, times=times, sub={},
        cold_total=9999.999, calib_ms=999.99,
        loadavg=[99.99, 99.99, 99.99],
        band_reruns=list(bench.HEADLINE[:4]),
        band_exceeded=list(bench.HEADLINE[:4]),
        contended=True, sf=0.1))
    assert "subqueries" not in json.loads(line)
    assert len(line) < 2048, len(line)
    # verbose attribution still round-trips when measured
    verbose = json.dumps(bench.payload(
        total=1.0, times=times, sub={"a.b": 1.23},
        cold_total=1.0, calib_ms=1.0, loadavg=None,
        band_reruns=[], band_exceeded=[], contended=False, sf=0.1))
    assert json.loads(verbose)["subqueries"] == {"a.b": 1.23}


def test_language_id_values_unchanged(spark):
    """The restructured argmax matches the spec on a tie/edge corpus:
    marker-count argmax, code-order tie-break, zh short-circuit, und
    fallback — the exact values the r13 single-expression form gave."""
    from serverless_data_pipeline_spark.operators.text import language_id

    docs = spark.createDataFrame(
        [(1, "the la of el and is to"),       # en 5 hits vs es 2 -> en
         (2, "el la que los es"),             # es 5
         (3, "der die und das ist"),          # de 5
         (4, "le les des est une"),           # fr 5
         (5, "xyzzy plugh"),                  # no hits -> und
         (6, "the der 天气 不错"),             # CJK -> zh regardless
         (7, "la la"),                        # es 'la' + fr? la only es -> es
         (8, "")],                            # empty -> und
        "doc_id long, text string")
    got = {r["doc_id"]: r["predicted_lang"]
           for r in language_id(docs).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "und",
                   6: "zh", 7: "es", 8: "und"}
