"""Incremental corpus maintenance: staged-semantics correctness, the
exact-stage full-recompute law, index-only probing (never rescanning
corpus text — the whole point of the operator), and idempotent
re-delivery."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from serverless_data_pipeline_spark.operators.incremental import (
    commit_batch, corpus_index, incremental_dedup,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _verdicts(df):
    return {r.doc_id: r.drop_reason for r in df.collect()}


def _first_commit(spark, rows, corpus_dir, index_dir, **kw):
    """Day 1: dedup ``rows`` against no index and commit them."""
    commit_batch(spark, incremental_dedup(_docs(spark, rows), None, **kw),
                 corpus_dir, index_dir)


def _two_signal_index(df):
    """An index holding both signals, as every index held them before a
    new index stored only the signal its probe reads."""
    return corpus_index(df, probe="minhash").join(
        corpus_index(df, probe="exact").drop("fp"), "doc_id")


BASE = ("spark engines shuffle data across partitions during wide "
        "joins and aggregations every single day of the week")


def test_exact_stage_equals_full_recompute_first_batch_wins(spark):
    """With near-dup disabled, incremental(b2 | index(b1)) must equal a
    full recompute over the union whose keep rule is (batch, id) — the
    arrival-order semantics of a landing pipeline."""
    b1 = _docs(spark, [(1, "alpha one"), (2, "beta two"),
                       (3, "alpha one"),          # within-b1 dup of 1
                       (4, "gamma four")])
    b2 = _docs(spark, [(10, "ALPHA   one"),       # normalized dup of 1
                       (11, "delta eleven"),
                       (12, "delta eleven"),      # within-b2 dup of 11
                       (13, "beta two")])         # dup of 2
    v1 = _verdicts(incremental_dedup(b1, None, threshold=None))
    assert v1 == {1: None, 2: None, 3: "exact_batch", 4: None}
    idx = corpus_index(
        _docs(spark, [(1, "alpha one"), (2, "beta two"),
                      (4, "gamma four")]))
    v2 = _verdicts(incremental_dedup(b2, idx, threshold=None))
    assert v2 == {10: "exact_index", 11: None, 12: "exact_batch",
                  13: "exact_index"}
    # full recompute with ROW_NUMBER over (batch, id): identical kept set
    kept = ({i for i, r in v1.items() if r is None}
            | {i for i, r in v2.items() if r is None})
    assert kept == {1, 2, 4, 11}


@pytest.mark.parametrize("probe", ["exact", "minhash"])
def test_neardup_probe_drops_cross_batch_copies(spark, probe):
    """A batch-2 doc near-identical to an indexed doc is dropped as
    neardup_index on BOTH probe paths; unrelated docs survive; a
    within-batch near-dup pair keeps its min id."""
    b1 = _docs(spark, [(1, BASE + " tail one"),
                       (2, "totally unrelated text about cooking pasta "
                           "with garlic and fresh basil leaves tonight")])
    b2 = _docs(spark, [(10, BASE + " tail two"),       # near-dup of 1
                       (11, "brand new content on mountain weather "
                            "patterns and alpine climbing routes today"),
                       (12, "brand new content on mountain weather "
                            "patterns and alpine climbing routes "
                            "yesterday")])             # near-dup of 11
    idx = corpus_index(b1, probe=probe)
    v = _verdicts(incremental_dedup(b2, idx, probe=probe, threshold=0.5))
    assert v[10] == "neardup_index"
    assert v[11] is None
    assert v[12] == "neardup_batch"


def test_probe_reads_index_only_never_corpus_text(spark, tmp_path):
    """THE scale contract: the probe plan scans the batch and the INDEX
    parquet — the corpus parquet (the 100 TB of text) appears nowhere in
    the plan."""
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    b1 = _docs(spark, [(i, f"{BASE} tail {i}") for i in range(5)])
    b1.write.parquet(corpus_dir)
    corpus_index(spark.read.parquet(corpus_dir)).write.parquet(index_dir)
    b2 = _docs(spark, [(10, BASE + " tail 99"), (11, "other text here")])
    out = incremental_dedup(b2, spark.read.parquet(index_dir))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "index" in plan
    assert "corpus" not in plan, "probe rescanned corpus text"
    # and the verdicts are still right
    v = _verdicts(out)
    assert v[10] == "neardup_index" and v[11] is None


def test_commit_then_redeliver_is_idempotent(spark, tmp_path):
    """After commit_batch, the index contains the survivors — re-probing
    the SAME batch drops every row as exact_index (redelivery safety,
    py:133-137), and the merged corpus equals the first commit +
    survivors."""
    corpus_dir = str(tmp_path / "c")
    index_dir = str(tmp_path / "i")
    _first_commit(spark, [(1, "alpha one two three"),
                          (2, "beta four five six")],
                  corpus_dir, index_dir, threshold=None)
    n_idx_before = spark.read.parquet(index_dir).count()
    b2 = _docs(spark, [(10, "gamma seven eight nine"),
                       (11, "alpha one two three")])   # dup of corpus 1
    v2 = incremental_dedup(b2, spark.read.parquet(index_dir),
                           threshold=None)
    assert _verdicts(v2) == {10: None, 11: "exact_index"}
    n = commit_batch(spark, v2, corpus_dir, index_dir)
    assert n == 3
    assert sorted(r.doc_id for r in
                  spark.read.parquet(corpus_dir).collect()) == [1, 2, 10]
    assert spark.read.parquet(index_dir).count() == n_idx_before + 1
    # redelivery of the full batch: everything now exact-dups the corpus
    v3 = _verdicts(incremental_dedup(
        b2, spark.read.parquet(index_dir), threshold=None))
    assert v3 == {10: "exact_index", 11: "exact_index"}


def test_index_validation_and_store_options(spark):
    df = _docs(spark, [(1, "a b c d e f g h")])
    with pytest.raises(ValueError, match="probe must be"):
        corpus_index(df, probe="bogus")
    mh_only = corpus_index(df, probe="minhash")
    assert set(mh_only.columns) == {"doc_id", "fp", "sig"}
    with pytest.raises(ValueError):
        # exact probe needs shset/sz
        incremental_dedup(df, mh_only, probe="exact").collect()
    sh_only = corpus_index(df, probe="exact")
    assert set(sh_only.columns) == {"doc_id", "fp", "shset", "sz"}
    with pytest.raises(ValueError):
        incremental_dedup(df, sh_only, probe="minhash").collect()
    with pytest.raises(ValueError):
        incremental_dedup(df, None, probe="cosine")


def test_minhash_and_exact_probe_agree_on_planted_fixture(spark):
    """On clearly-separated data (near-identical vs disjoint docs) the
    cheap signature probe and the exact-Jaccard probe reach identical
    verdicts."""
    b1 = _docs(spark, [(i, f"{BASE} variant {i}") for i in range(4)])
    b2 = _docs(spark, [(10, BASE + " variant 99")] +
               [(20 + i, f"doc {i} " +
                 " ".join(f"tok{i}_{j}" for j in range(15)))
                for i in range(4)])
    ve = _verdicts(incremental_dedup(b2, corpus_index(b1, probe="exact"),
                                     probe="exact"))
    vm = _verdicts(incremental_dedup(b2, corpus_index(b1, probe="minhash"),
                                     probe="minhash"))
    assert ve == vm
    assert ve[10] == "neardup_index"
    assert all(ve[20 + i] is None for i in range(4))


def test_maintenance_stream_bootstrap_probe_and_audit(spark, tmp_path):
    """The composed daily-ops loop: tick 1 commits landing batch 1 as
    the corpus + index, like any tick but against no index; tick 2 sees
    ONLY batch 2 (checkpointed file source), probes the persisted index,
    merges survivors, and appends the audit trail. End state equals the
    staged-semantics expectation of the batch-side operators it
    composes."""
    import json

    from pyspark.sql import types as T

    from serverless_data_pipeline_spark.operators.incremental import (
        maintenance_stream,
    )

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    paths = {"corpus": str(tmp_path / "corpus"),
             "index": str(tmp_path / "index"),
             "chk": str(tmp_path / "chk"),
             "verdicts": str(tmp_path / "verdicts")}

    def _run():
        q = maintenance_stream(
            spark, str(land), schema, paths["corpus"], paths["index"],
            paths["chk"], threshold=None, verdict_path=paths["verdicts"])
        q.awaitTermination(120)

    def _land(name, rows):
        (land / name).write_text(
            "\n".join(json.dumps(r) for r in rows))

    _land("b1.json", [
        {"doc_id": 1, "text": "alpha one"},
        {"doc_id": 2, "text": "beta two"},
        {"doc_id": 3, "text": "alpha one"},      # within-b1 dup of 1
    ])
    _run()
    corpus1 = {r.doc_id for r in
               spark.read.parquet(paths["corpus"]).collect()}
    assert corpus1 == {1, 2}

    _land("b2.json", [
        {"doc_id": 10, "text": "ALPHA   one"},   # normalized dup of 1
        {"doc_id": 11, "text": "delta eleven"},
        {"doc_id": 12, "text": "delta eleven"},  # within-b2 dup of 11
    ])
    _run()
    corpus2 = {r.doc_id for r in
               spark.read.parquet(paths["corpus"]).collect()}
    assert corpus2 == {1, 2, 11}
    # index grew by exactly the surviving batch (append-only)
    idx = spark.read.parquet(paths["index"])
    assert {r.doc_id for r in idx.collect()} == {1, 2, 11}
    # audit trail: tick-tagged verdicts for every landed doc
    v = {(r.doc_id): (r.drop_reason, r.tick_id)
         for r in spark.read.parquet(paths["verdicts"]).collect()}
    assert v[3][0] == "exact_batch" and v[10][0] == "exact_index"
    assert v[12][0] == "exact_batch"
    assert {d for d, (reason, _) in v.items() if reason is None} \
        == {1, 2, 11}
    # batch-2 verdicts all carry a LATER tick than batch-1's
    assert {v[d][1] for d in (10, 11, 12)} != {v[d][1] for d in (1, 2, 3)}


# A minhash fixture that reaches every drop reason: 10 repeats an index
# doc (exact_index), 12 repeats 11 (exact_batch), 13 is the index doc 1
# plus a tail (neardup_index), 14 is a near-dup of 13 but not of doc 1
# (a pair whose other end is an index hit: it survives, because hits
# leave before the pair graph), 18 is a near-dup of 17 (neardup_batch)
# and 19 has no shingles (no signature).
_SEA = [f"sea{i}" for i in range(26)]
_XEN = [f"xen{i}" for i in range(6)]
_CEDAR = " ".join(f"cedar{i}" for i in range(20))
MH_INDEX = [(1, " ".join(_SEA)), (2, "alpha one two three four"),
            (3, "cooking pasta with garlic and fresh basil leaves tonight")]
MH_BATCH = [(10, "ALPHA one  two three four"),
            (11, "delta eleven twelve thirteen"),
            (12, "delta eleven twelve thirteen"),
            (13, " ".join(_SEA + _XEN)),
            (14, " ".join(_SEA[8:] + _XEN)),
            (17, f"{_CEDAR} tail"), (18, f"{_CEDAR} other"),
            (19, ""),
            (20, "a wholly unrelated document about weather patterns")]
# the verdicts of the code that MinHashed the batch once per stage
MH_VERDICTS = {
    "index": {10: "exact_index", 11: None, 12: "exact_batch",
              13: "neardup_index", 14: None, 17: None,
              18: "neardup_batch", 19: None, 20: None},
    "none": {10: None, 11: None, 12: "exact_batch", 13: None,
             14: "neardup_batch", 17: None, 18: "neardup_batch", 19: None,
             20: None},
}


@pytest.mark.parametrize("store", [("minhash",), ("minhash", "shingles")])
@pytest.mark.parametrize("against", ["index", "none"])
def test_minhash_verdicts_on_every_drop_reason(spark, against, store):
    """The minhash probe reaches the same verdicts against an index that
    holds only signatures and one that also holds shingle sets."""
    index = _docs(spark, MH_INDEX)
    idx = None
    if against == "index":
        idx = (corpus_index(index, probe="minhash") if len(store) == 1
               else _two_signal_index(index))
    v = incremental_dedup(_docs(spark, MH_BATCH), idx, probe="minhash")
    assert _verdicts(v) == MH_VERDICTS[against]


def test_corpus_day_pairs_are_the_ticks_index_hits(spark):
    """The corpus day and the tick share one MinHash shape: at threshold
    t, the batch docs ``minhash_lsh_pairs`` pairs with an index doc are
    exactly those ``incremental_dedup(probe="minhash")`` drops as
    neardup_index against that side's ``corpus_index``. Batch docs
    100+k are doc 1 without its first k words (3-gram Jaccard
    (24 - k) / 24), so some estimates sit near t."""
    from serverless_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    t = 0.6
    index = _docs(spark, MH_INDEX)
    batch = _docs(spark, [(100 + k, " ".join(_SEA[k:]))
                          for k in (2, 6, 9, 10, 11, 16)]
                  + [(200, MH_BATCH[-1][1])])
    pairs = minhash_lsh_pairs(index.unionByName(batch), "doc_id", "text",
                              jaccard_threshold=t)
    # index ids are below every batch id, so a cross pair is (index, batch)
    paired = {r.id_b for r in pairs.collect() if r.id_a < 100 <= r.id_b}
    v = _verdicts(incremental_dedup(
        batch, corpus_index(index, probe="minhash"), probe="minhash",
        threshold=t))
    assert paired == {i for i, r in v.items() if r == "neardup_index"}
    assert 102 in paired and not paired & {116, 200}


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


def _count_text_passes(spark, monkeypatch):
    """Route every tokenization in the dedup operators through a
    nondeterministic pass-through UDF (Catalyst may neither merge nor drop
    its evaluations); returns the accumulator it adds to per row."""
    from serverless_data_pipeline_spark.functions.text import tokens
    from serverless_data_pipeline_spark.operators import dedup, incremental

    texts = spark.sparkContext.accumulator(0)

    def text_pass(t):
        texts.add(1)
        return t

    read_text = F.udf(text_pass, "string").asNondeterministic()
    for mod in (dedup, incremental):
        monkeypatch.setattr(mod, "_tokens_of", lambda df, text_col: tokens(
            read_text(F.col(text_col))))
    return texts


def test_tick_shingles_each_survivor_once_and_probes_once(
        spark, tmp_path, monkeypatch):
    """incremental_dedup + commit_batch on its frame: each exact survivor's
    text is tokenized once (the feature pass; the commit appends the
    survivors' rows of that checkpoint) and the index signatures are read
    by one probe execution, however often the verdicts are read."""
    corpus_dir, index_dir = str(tmp_path / "c"), str(tmp_path / "i")
    _first_commit(spark, MH_INDEX, corpus_dir, index_dir, probe="minhash")
    texts = _count_text_passes(spark, monkeypatch)
    sigs = spark.sparkContext.accumulator(0)

    def sig_pass(s):
        sigs.add(1)
        return s

    read_sig = F.udf(sig_pass, "binary").asNondeterministic()
    idx = spark.read.parquet(index_dir)
    idx = idx.withColumn("sig", read_sig("sig"))

    def tick():
        v = incremental_dedup(_docs(spark, MH_BATCH), idx, probe="minhash")
        commit_batch(spark, v, corpus_dir, index_dir)
        return v

    v, jobs = _jobs_in_group(spark, "incr-tick", tick)
    assert _verdicts(v) == MH_VERDICTS["index"]
    # 11, 13, 14, 17, 18, 19, 20 pass the exact stages
    assert texts.value == 7
    assert sigs.value == len(MH_INDEX)
    # 62 jobs when every stage re-ran the MinHash and the probe, 49 after
    # (local[4])
    assert jobs <= 52
    survivors = {i for i, r in MH_VERDICTS["index"].items() if r is None}
    assert ({r.doc_id for r in spark.read.parquet(index_dir).collect()}
            == {1, 2, 3} | survivors)


def test_commit_appends_the_signals_the_index_holds(spark, tmp_path):
    """A new index stores the signal its probe reads and every commit
    appends what the persisted index holds, so every index file has one
    schema. With no index yet, a frame that is not incremental_dedup's
    raises before anything is written: nothing says which signal the
    new index should store."""
    import glob

    b2 = _docs(spark, MH_BATCH)
    for probe, cols in (("minhash", {"doc_id", "fp", "sig"}),
                        ("exact", {"doc_id", "fp", "shset", "sz"})):
        corpus_dir = str(tmp_path / probe / "c")
        index_dir = str(tmp_path / probe / "i")
        _first_commit(spark, MH_INDEX, corpus_dir, index_dir, probe=probe)
        v = incremental_dedup(b2, spark.read.parquet(index_dir),
                              probe=probe)
        commit_batch(spark, v, corpus_dir, index_dir)
        files = glob.glob(index_dir + "/*.parquet")
        assert len(files) > 1
        assert all(set(spark.read.parquet(f).columns) == cols
                   for f in files)
    # an index written with both signals keeps getting both
    corpus_dir, index_dir = str(tmp_path / "both" / "c"), \
        str(tmp_path / "both" / "i")
    _docs(spark, MH_INDEX).write.parquet(corpus_dir)
    _two_signal_index(_docs(spark, MH_INDEX)).write.parquet(index_dir)
    v = incremental_dedup(b2, spark.read.parquet(index_dir),
                          probe="minhash")
    commit_batch(spark, v, corpus_dir, index_dir)
    assert all(set(spark.read.parquet(f).columns)
               == {"doc_id", "fp", "sig", "shset", "sz"}
               for f in glob.glob(index_dir + "/*.parquet"))
    again = _verdicts(incremental_dedup(
        b2, spark.read.parquet(index_dir), probe="exact"))
    assert all(again[i] == "exact_index" for i, r in _verdicts(v).items()
               if r is None)
    # no index, and a frame that does not carry incremental_dedup's run
    plain = b2.withColumn("drop_reason", F.lit(None).cast("string"))
    for verdicts in (plain, incremental_dedup(b2, None).localCheckpoint()):
        with pytest.raises(ValueError,
                           match="not incremental_dedup's own frame"):
            commit_batch(spark, verdicts, str(tmp_path / "new" / "c"),
                         str(tmp_path / "new" / "i"))
    assert not (tmp_path / "new").exists()


@pytest.mark.parametrize("crash_at", [0, 1])
def test_tick_crashed_after_the_corpus_commit_redelivers_cleanly(
        spark, tmp_path, monkeypatch, crash_at):
    """A tick whose index append fails after its corpus merge landed
    (on the first tick, and on a later one), then re-delivered: the
    corpus ids stay unique and equal an uninterrupted run's, the index
    holds exactly the corpus ids, and the retried tick reaches the
    uninterrupted run's verdicts."""
    batches = [MH_INDEX, MH_BATCH]

    def tick(corpus_dir, index_dir, rows):
        idx = (spark.read.parquet(index_dir) if os.path.exists(index_dir)
               else None)
        v = incremental_dedup(_docs(spark, rows), idx, probe="minhash")
        got = _verdicts(v)
        commit_batch(spark, v, corpus_dir, index_dir)
        return got

    def ids(path):
        return sorted(r.doc_id for r in spark.read.parquet(path).collect())

    def run(name, crash):
        corpus_dir = str(tmp_path / name / "c")
        index_dir = str(tmp_path / name / "i")
        verdicts = []
        for i, rows in enumerate(batches):
            if i == crash:
                real = DataFrameWriter.parquet

                def failing(self, path, *args, **kwargs):
                    if path == index_dir:
                        raise OSError("index append lost")
                    return real(self, path, *args, **kwargs)

                with monkeypatch.context() as m:
                    m.setattr(DataFrameWriter, "parquet", failing)
                    with pytest.raises(OSError, match="index append lost"):
                        tick(corpus_dir, index_dir, rows)
                assert os.path.exists(corpus_dir)
            verdicts.append(tick(corpus_dir, index_dir, rows))
        return verdicts, ids(corpus_dir), ids(index_dir)

    want_verdicts, want_corpus, want_index = run("clean", None)
    assert want_verdicts[1] == MH_VERDICTS["index"]
    verdicts, corpus, index = run("crashed", crash_at)
    assert len(set(corpus)) == len(corpus)
    assert corpus == want_corpus
    assert index == corpus == want_index
    assert verdicts == want_verdicts


def test_minhash_stream_stores_signatures_and_releases_its_checkpoints(
        spark, tmp_path, monkeypatch):
    """maintenance_stream(probe="minhash"): each tick tokenizes each exact
    survivor once (the commit appends index rows from the feature pass),
    the index holds exactly {doc_id, fp, sig} in every file, and neither
    the first tick nor a later tick leaves a persisted RDD behind."""
    import glob
    import json

    from pyspark.sql import types as T

    from serverless_data_pipeline_spark.operators.incremental import (
        maintenance_stream,
    )

    texts = _count_text_passes(spark, monkeypatch)

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    index_dir = str(tmp_path / "index")
    persisted = spark.sparkContext._jsc.getPersistentRDDs

    def _tick(name, rows):
        (land / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows))
        before = set(persisted().keys())
        q = maintenance_stream(
            spark, str(land), schema, str(tmp_path / "corpus"), index_dir,
            str(tmp_path / "chk"), probe="minhash",
            verdict_path=str(tmp_path / "verdicts"))
        q.awaitTermination(120)
        assert q.exception() is None
        assert set(persisted().keys()) <= before

    _tick("b1.json", MH_INDEX)
    assert texts.value == len(MH_INDEX)
    _tick("b2.json", MH_BATCH)
    # 11, 13, 14, 17, 18, 19, 20 pass the exact stages
    assert texts.value == len(MH_INDEX) + 7
    files = glob.glob(index_dir + "/*.parquet")
    assert all(set(spark.read.parquet(f).columns) == {"doc_id", "fp", "sig"}
               for f in files)
    v = {r.doc_id: r.drop_reason for r in
         spark.read.parquet(str(tmp_path / "verdicts")).collect()}
    assert {i: v[i] for i, _ in MH_BATCH} == MH_VERDICTS["index"]


def test_index_stores_packed_fp_and_signature(spark):
    """fp is the md5's 16 raw bytes and sig packs 32 16-bit values into
    64 bytes; a doc with no shingles has a NULL sig."""
    from pyspark.sql.types import BinaryType

    idx = corpus_index(_docs(spark, MH_INDEX + [(9, "")]), probe="minhash")
    assert isinstance(idx.schema["fp"].dataType, BinaryType)
    assert isinstance(idx.schema["sig"].dataType, BinaryType)
    got = {r.doc_id: (r.fp_len, r.sig_len) for r in idx.select(
        "doc_id", F.length("fp").alias("fp_len"),
        F.length("sig").alias("sig_len")).collect()}
    assert got == {**{i: (16, 64) for i, _ in MH_INDEX}, 9: (16, None)}


@pytest.mark.parametrize("old", ["fp", "sig"])
def test_old_format_index_raises_before_any_write(spark, tmp_path, old):
    """An index written before fp and sig were packed (hex string fp,
    array<long> sig) is refused by incremental_dedup and commit_batch
    with a ValueError naming the column. Unchecked, the string fp would
    join against the binary batch fingerprint and match nothing, so
    every exact_index duplicate would survive."""
    import glob

    corpus_dir, index_dir = str(tmp_path / "c"), str(tmp_path / "i")
    _first_commit(spark, MH_INDEX, corpus_dir, index_dir, probe="minhash")
    b2 = _docs(spark, MH_BATCH)
    verdicts = incremental_dedup(b2, spark.read.parquet(index_dir),
                                 probe="minhash")
    legacy = (F.hex("fp") if old == "fp"
              else F.array(F.lit(0).cast("long")))
    old_dir = str(tmp_path / "old")
    (spark.read.parquet(index_dir).withColumn(old, legacy)
     .write.parquet(old_dir))
    msg = f"'{old}'.*rebuild with corpus_index"
    with pytest.raises(ValueError, match=msg):
        incremental_dedup(b2, spark.read.parquet(old_dir), probe="minhash")
    files = sorted(glob.glob(str(tmp_path / "*" / "*")))
    with pytest.raises(ValueError, match=msg):
        commit_batch(spark, verdicts, corpus_dir, old_dir)
    assert sorted(glob.glob(str(tmp_path / "*" / "*"))) == files
