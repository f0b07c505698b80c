"""X1/X2 dedup operators: planted near-dups, skew cap, exact values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_pipeline_spark.operators.dedup import (
    embedding_neardup_pairs, minhash_lsh_pairs,
    ngram_jaccard_pairs, simhash_pairs,
)

BASE = ("the quick brown fox jumps over the lazy dog while the sun "
        "sets slowly behind the tall green hills of the valley")
NEAR = BASE.replace("lazy", "sleepy")  # one-token edit -> high Jaccard
OTHER = ("completely different content about database engines and "
         "distributed query processing with shuffle partitions")


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER),
         (4, "tiny"), (5, "spark sql engine")],
        "doc_id long, text string")


def test_minhash_finds_planted_pair(spark):
    pairs = minhash_lsh_pairs(_docs(spark), "doc_id", "text",
                              jaccard_threshold=0.3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def _sig64(df, num_hashes=32):
    """doc_id -> the 64-bit MinHash minima the packed signature keeps the
    low 16 bits of (same shingles, same seeded re-hash)."""
    from serverless_data_pipeline_spark.operators.dedup import _shingled

    h0 = (_shingled(df, "doc_id", "text", 3)
          .select("doc_id", F.xxhash64("__sh").alias("h0")))
    rows = h0.groupBy("doc_id").agg(*[
        F.min(F.xxhash64("h0", F.lit(i))).alias(f"m{i}")
        for i in range(num_hashes)]).collect()
    return {r.doc_id: [r[f"m{i}"] for i in range(num_hashes)] for r in rows}


def _pairs64(sigs, bands, threshold):
    """The banded pairs of 64-bit signatures: a shared band of equal
    minima makes a candidate, verified by the fraction of equal minima."""
    out = {}
    for a in sigs:
        for b in sigs:
            x, y = sigs[a], sigs[b]
            r = len(x) // bands
            if a < b and any(x[k * r:(k + 1) * r] == y[k * r:(k + 1) * r]
                             for k in range(bands)):
                est = sum(u == v for u, v in zip(x, y)) / len(x)
                if est >= threshold:
                    out[(a, b)] = est
    return out


def test_packed_minhash_is_one_sided(spark):
    """The signature packs the low 16 bits of each 64-bit minimum, and
    every pair the 64-bit signatures find is found from the packed ones
    with a jaccard_est that is never lower."""
    from serverless_data_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, "tiny"),
         (5, "spark sql engine"),
         (6, BASE.replace("green", "brown").replace("sun", "moon")),
         (7, OTHER.replace("engines", "systems")),
         (8, OTHER + " and more shuffle partitions"),
         (9, " ".join(BASE.split()[:12]))],
        "doc_id long, text string")
    sigs = _sig64(df)
    packed = {r.doc_id: bytes(r.sig) for r in
              minhash_signatures(df, "doc_id", "text").collect()}
    assert packed == {d: b"".join((m & 0xFFFF).to_bytes(2, "big")
                                  for m in mins)
                      for d, mins in sigs.items()}
    for threshold in (0.3, 0.5):
        want = _pairs64(sigs, 8, threshold)
        got = {(r.id_a, r.id_b): r.jaccard_est for r in minhash_lsh_pairs(
            df, "doc_id", "text", jaccard_threshold=threshold).collect()}
        assert len(want) >= 3
        assert set(want) <= set(got)
        assert all(got[p] >= est for p, est in want.items())


def test_minhash_sig_sql_string_equals_column_form(spark):
    """The one-string signature aggregate yields the same bytes as the
    same tree composed from Column calls."""
    from serverless_data_pipeline_spark.operators.dedup import _minhash_sig

    h0 = spark.createDataFrame(
        [(g, (g * 7919 + j * 104729) * (-1) ** j)
         for g in range(4) for j in range(1, 6)]
        + [(4, -(1 << 63)), (4, (1 << 63) - 1)], "g long, h0 long")
    column_form = F.unhex(F.concat(*[
        F.lpad(F.hex(F.min(F.xxhash64(F.col("h0"), F.lit(i)))
                     .bitwiseAND(F.lit(0xFFFF))), 4, "0")
        for i in range(32)]))
    got = h0.groupBy("g").agg(_minhash_sig("h0").alias("a"),
                              column_form.alias("b")).collect()
    assert len(got) == 5
    assert all(len(r.a) == 64 and bytes(r.a) == bytes(r.b) for r in got)


def test_ngram_jaccard_large_doc_high_precision_threshold(spark):
    """Regression: sz*num in the pruning bounds was computed in the
    size() column's 32-bit int — a threshold with a large rational
    numerator (0.654321 -> 654321/1000000) on a few-thousand-shingle doc
    overflowed (ANSI: job-killing ArithmeticException; non-ANSI: silent
    negative alpha disabling all pruning)."""
    text = " ".join(f"w{i}" for i in range(3500))   # 3498 distinct shingles
    df = spark.createDataFrame([(1, text), (2, text)],
                               "doc_id long, text string")
    out = ngram_jaccard_pairs(df, "doc_id", "text", n=3,
                              threshold=0.654321).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out] == [(1, 2, 1.0)]


def test_sketches_accept_pretokenized_arrays(spark):
    """minhash/simhash/jaccard over an array<string> column must produce
    the same pair sets as over the raw text it was tokenized from."""
    from serverless_data_pipeline_spark.functions.text import tokens

    raw = _docs(spark)
    tokd = raw.select("doc_id", tokens("text").alias("toks"))
    for fn, kw in ((minhash_lsh_pairs, {"jaccard_threshold": 0.3}),
                   (simhash_pairs, {"max_hamming": 6}),
                   (ngram_jaccard_pairs, {"threshold": 0.4})):
        from_text = {(r.id_a, r.id_b)
                     for r in fn(raw, "doc_id", "text", **kw).collect()}
        from_toks = {(r.id_a, r.id_b)
                     for r in fn(tokd, "doc_id", "toks", **kw).collect()}
        assert from_toks == from_text, fn.__name__


def test_simhash_default_bits_finds_pair(spark):
    # Regression: bits=64 used to overflow a JVM long (1 << 63 literal).
    pairs = simhash_pairs(_docs(spark), "doc_id", "text", max_hamming=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string")
    # 2-gram sets: {ab,bc,cd} vs {ab,bc,ce}: common 2, union 4 -> 0.5
    out = ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.4)
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].id_a, rows[0].id_b) == (1, 2)
    assert abs(rows[0].jaccard - 0.5) < 1e-9


def test_ngram_jaccard_df_cap_drops_hot_shingle(spark):
    # Every doc shares a boilerplate shingle; with the cap it is pruned
    # from index AND sizes, so the unrelated pair disappears.
    rows = [(i, f"common boiler plate unique{i} token{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1)
    capped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1,
                                 max_doc_freq=2)
    assert uncapped.count() > 0          # hot shingle pairs everyone
    assert capped.count() == 0           # pruned -> no candidates at all


def test_minhash_materialized_signatures_same_result(spark):
    from serverless_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" * (i % 2)))
         for i in range(8)], "doc_id long, text string")
    plain = {(r.id_a, r.id_b, r.jaccard_est) for r in
             minhash_lsh_pairs(df, "doc_id", "text",
                               jaccard_threshold=0.3).collect()}
    mat = {(r.id_a, r.id_b, r.jaccard_est) for r in
           minhash_lsh_pairs(df, "doc_id", "text", jaccard_threshold=0.3,
                             materialize_signatures=True).collect()}
    assert plain == mat and len(plain) > 0


def test_ngram_jaccard_materialized_index_same_result(spark):
    # The checkpointed inverted-index mode is a pure physical choice:
    # identical pairs/values either way.
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "p q r s t"),
         (4, "p q r s u")], "doc_id long, text string")
    plain = {(r.id_a, r.id_b, r.jaccard) for r in
             ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                                 threshold=0.3).collect()}
    mat = {(r.id_a, r.id_b, r.jaccard) for r in
           ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.3,
                               materialize_index=True).collect()}
    assert plain == mat and len(plain) == 2


def test_embedding_neardup_planted(spark):
    base = [1.0, 0.5, -0.2, 0.8]
    near = [1.01, 0.49, -0.21, 0.79]
    far = [-1.0, 0.5, 0.2, -0.8]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(df, "vec_id", "embedding",
                                    threshold=0.99, n_planes=4, dim=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_neardup_components_transitive_chain(spark):
    from serverless_data_pipeline_spark.operators.dedup import (
        dedupe_by_components, neardup_components,
    )
    # two components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {5,9} direct
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 9)], "id_a long, id_b long")
    comp = {r.id: r.component_id for r in neardup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 9: 5}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 5, 7, 9, 42)],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  dedupe_by_components(docs, pairs, "doc_id").collect())
    # one canonical doc per component + untouched singleton 42
    assert kept == [1, 5, 42]


def test_neardup_components_converges_early(spark):
    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )
    # a 6-node path graph needs several propagation rounds; max_iter high
    # enough must still stop at convergence and give one component
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long")
    out = neardup_components(pairs, max_iter=15).collect()
    assert {r.component_id for r in out} == {1}
    assert len(out) == 6


def test_star_components_match_label_prop(spark):
    """The star contraction must produce the identical (id, component_id)
    map as label propagation: chain, star-shaped, disjoint, and a
    pseudo-random graph with multi-merge components."""
    import random

    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )
    rng = random.Random(7)
    edges = [(1, 2), (2, 3), (3, 7), (5, 9), (20, 21), (21, 22), (20, 22)]
    edges += [(rng.randrange(100, 160), rng.randrange(100, 160))
              for _ in range(80)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    lp = {r.id: r.component_id
          for r in neardup_components(pairs,
                                      algorithm="label_prop").collect()}
    st = {r.id: r.component_id
          for r in neardup_components(pairs, algorithm="star").collect()}
    au = {r.id: r.component_id
          for r in neardup_components(pairs, algorithm="auto").collect()}
    assert st == lp
    assert au == lp


def test_star_components_high_diameter_chain(spark):
    """A 40-node path has diameter 39 — label prop needs ~39 rounds, star
    contraction collapses it in O(log^2) rounds well inside max_iter."""
    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long")
    out = neardup_components(pairs, algorithm="star", max_iter=10).collect()
    assert {r.component_id for r in out} == {1}
    assert len(out) == 40


def test_star_components_release_superseded_rounds(spark):
    """Star contraction frees each round's checkpoints once the next
    round is materialized: everything it leaves persisted is a leaf of
    the returned frame (released with it)."""
    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )
    from serverless_data_pipeline_spark.operators.util import (
        release_checkpoint,
    )

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long")
    before = persisted()
    out = neardup_components(pairs, algorithm="star", max_iter=10)
    assert {r.component_id for r in out.collect()} == {1}
    assert len(persisted() - before) == 2     # the edge leaf, last round
    release_checkpoint(out)
    assert persisted() - before == set()


def test_auto_components_high_diameter_chain(spark):
    """The default (auto) hybrid must finish a 40-node path exactly even
    though the diameter (39) dwarfs its label-prop round budget: the
    unconverged residual contracts by partial labels and star finishes
    it — no convergence warning, true min label everywhere."""
    import warnings as _warnings

    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long")
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")          # any warn -> failure
        out = neardup_components(pairs, max_iter=10).collect()
    assert {r.component_id for r in out} == {1}
    assert len(out) == 40


def test_star_components_rejects_unknown_algorithm(spark):
    import pytest as _pytest

    from serverless_data_pipeline_spark.operators.dedup import (
        neardup_components,
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError):
        neardup_components(pairs, algorithm="nope")


# ------------------------------------------------------------ SemDeDup


def _sem_frame(spark, seed=7):
    """3 planted near-dup families (tiny noise around a base vector),
    plus well-separated singletons. cos(family members) > 0.99;
    cos(cross-family) well below."""
    import random

    rng = random.Random(seed)
    dim = 16
    rows = []
    vid = 0

    def base():
        return [rng.gauss(0.0, 1.0) for _ in range(dim)]

    families = []
    for _ in range(3):
        b = base()
        families.append([])
        for _ in range(4):  # 4 near-identical members
            v = [x + rng.gauss(0.0, 0.001) for x in b]
            rows.append((vid, v)); families[-1].append(vid); vid += 1
    singles = []
    for _ in range(6):
        rows.append((vid, base())); singles.append(vid); vid += 1
    return (spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            families, singles, dim)


def test_semantic_dedup_keeps_one_per_family(spark):
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    df, families, singles, dim = _sem_frame(spark)
    out = {r.vec_id: r for r in
           semantic_dedup(df, "vec_id", "embedding", threshold=0.95,
                          n_clusters=4, dim=dim).collect()}
    assert len(out) == df.count()  # one row per input
    for fam in families:
        kept = [i for i in fam if out[i].keep]
        assert len(kept) == 1
        for i in fam:
            if not out[i].keep:
                assert out[i].dup_of == kept[0]
                assert out[i].dup_sim > 0.95
    # well-separated singletons all survive; kept rows carry NULL (not
    # NaN) dup markers
    assert all(out[i].keep for i in singles)
    assert all(out[i].dup_of is None and out[i].dup_sim is None
               for i in out if out[i].keep)


def test_semantic_dedup_deterministic_across_partitionings(spark):
    # The whole pass is partition-independent, with an offline codebook
    # and with in-line training alike (the training sample is a seeded
    # hash order of the id column, not a partition-dependent draw).
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup
    from serverless_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df, *_ , dim = _sem_frame(spark)
    for cents in (train_ivf_centroids(df, "embedding", n_cells=4, seed=1),
                  None):
        a = sorted(map(tuple, semantic_dedup(
            df.repartition(1), "vec_id", "embedding", threshold=0.95,
            n_clusters=4, dim=dim, centroids=cents).collect()))
        b = sorted(map(tuple, semantic_dedup(
            df.repartition(13), "vec_id", "embedding", threshold=0.95,
            n_clusters=4, dim=dim, centroids=cents).collect()))
        assert a == b


def _jobs_in_group(spark, group, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_inline_kmeans_training_is_one_spark_job(spark):
    """Training an IVF codebook, and building a SemDeDup plan that
    trains in-line, each run exactly ONE Spark job — the bounded-sample
    collect, whatever the number of Lloyd rounds (an MLlib k-means fit
    and a separate emptiness/dim probe took 13 and 14 on this frame).
    The codebook's width stands in for `dim`."""
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup
    from serverless_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df = _sem_frame(spark)[0].localCheckpoint(eager=True)
    jobs = {}
    for name, build in (
            ("ivf", lambda: train_ivf_centroids(df, "embedding",
                                                n_cells=4, seed=1)),
            ("semantic", lambda: semantic_dedup(df, "vec_id", "embedding",
                                                threshold=0.95,
                                                n_clusters=4))):
        jobs[name] = _jobs_in_group(spark, f"kmeans-{name}", build)[1]
    assert jobs == {"ivf": 1, "semantic": 1}


def test_semantic_dedup_oversize_cluster_raises(spark):
    import pytest as _pytest

    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    df, *_ , dim = _sem_frame(spark)
    with _pytest.raises(Exception, match="max_cluster_size"):
        # 18 rows over <=2 clusters guarantees one cluster > 3 members
        semantic_dedup(df, "vec_id", "embedding", n_clusters=2, dim=dim,
                       max_cluster_size=3).collect()


def test_semantic_dedup_precomputed_centroids_skip_training(spark):
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    df, families, _, dim = _sem_frame(spark)
    cents = [[1.0 if i == j else 0.0 for i in range(dim)] for j in range(2)]
    out = semantic_dedup(df, "vec_id", "embedding", threshold=0.95,
                         n_clusters=2, dim=dim, centroids=cents).collect()
    assert {r.cluster_id for r in out} <= {0, 1}
    for fam in families:
        assert sum(1 for r in out if r.vec_id in fam and r.keep) == 1


def test_semantic_dedup_null_vector_names_the_cause(spark):
    """A NULL vector fails the cell-assignment kernel with a message that
    says so, not numpy's core-dimension mismatch."""
    import pytest as _pytest

    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    df, *_, dim = _sem_frame(spark)
    nulls = spark.createDataFrame([(999, None)], df.schema)
    fixed = [[1.0 if i == j else 0.0 for i in range(dim)] for j in range(2)]
    # with a fixed codebook the Arrow kernel raises; trained in-line, the
    # sample job's NULL count does, before any kernel runs
    for cents in (fixed, None):
        for frame in (df.unionByName(nulls), nulls):
            with _pytest.raises(
                    Exception,
                    match=f"a NULL vector reached a {dim}-dim kernel"):
                semantic_dedup(frame, "vec_id", "embedding", n_clusters=2,
                               dim=dim, centroids=cents).collect()


def test_simhash_lane_overflow_fails_fast(spark):
    """A doc at the 2^21-token lane capacity must raise (a silent lane
    carry would flip arbitrary fingerprint bits), and normal docs are
    untouched by the guard."""
    import pytest as _pytest

    from serverless_data_pipeline_spark.operators.dedup import simhash

    big = " ".join(["x"] * (1 << 21))
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    with _pytest.raises(Exception, match="lane overflow"):
        simhash(df, "doc_id", "text").collect()
    ok = spark.createDataFrame([(2, "a perfectly ordinary document")],
                               "doc_id long, text string")
    assert simhash(ok, "doc_id", "text").count() == 1


def test_semantic_dedup_empty_input_short_circuits(spark):
    """An empty frame must yield an empty result (output schema intact),
    not an opaque TypeError from the dim probe / in-line k-means (ADVICE
    r5 — the corpus pipeline hits this when the embeddings-vs-live-docs
    semi-join comes back empty)."""
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    # ONE job: the sample's Observation counts 0 rows, so no emptiness
    # probe runs after it
    out, jobs = _jobs_in_group(
        spark, "semantic-empty",
        lambda: semantic_dedup(empty, "vec_id", "embedding", n_clusters=4))
    assert jobs == 1
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "cluster_id", "centroid_sim", "keep", "dup_of", "dup_sim"]


_PYTHON_PLAN = ("ArrowEvalPython", "FlatMapGroupsInPandas", "PythonRDD")


def _plan_text(df) -> str:
    """The frame's executed plan and the RDD lineage it runs as."""
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString() + qe.toRdd().toDebugString()


def _sem_rows(df, **kw):
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    return sorted(map(tuple, semantic_dedup(
        df, "vec_id", "embedding", **kw).collect()))


def test_semantic_dedup_driver_path_equals_distributed(spark):
    """In-line training on an input no larger than its k-means sample
    finishes on the driver; its rows (floats included) equal the
    distributed path's under the same codebook, also when an id
    repeats, and its frame runs no Python whatever the Arrow setting."""
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup
    from serverless_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df, families, _, dim = _sem_frame(spark)
    # a second row for id 0, near its family: a repeated id
    twin = df.filter("vec_id = 1").withColumn("vec_id", F.lit(0).cast("long"))
    for frame in (df, df.unionByName(twin)):
        for seed in (1, 42):
            kw = {"threshold": 0.95, "n_clusters": 4, "dim": dim,
                  "seed": seed, "max_iter": 7}
            cents = train_ivf_centroids(frame, "embedding", n_cells=4,
                                        seed=seed, max_iter=7)
            assert _sem_rows(frame, **kw) == _sem_rows(
                frame, centroids=cents, **kw)
    # no Python in the frame, also with the session's Arrow switch off
    key = "spark.sql.execution.arrow.pyspark.enabled"
    arrow = spark.conf.get(key)
    try:
        for on in ("true", "false"):
            spark.conf.set(key, on)
            out = semantic_dedup(df, "vec_id", "embedding", threshold=0.95,
                                 n_clusters=4, dim=dim)
            plan = _plan_text(out)
            assert not [n for n in _PYTHON_PLAN if n in plan], plan
    finally:
        spark.conf.set(key, arrow)


def test_semantic_dedup_above_sample_bound_runs_distributed(spark):
    """An input larger than the 256-per-cluster k-means sample takes the
    distributed path: the grouped-map scan is in its plan."""
    from serverless_data_pipeline_spark.operators.dedup import semantic_dedup

    df = spark.range(257).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id")).alias("embedding"))
    out = semantic_dedup(df, "vec_id", "embedding", n_clusters=1)
    assert "FlatMapGroupsInPandas" in _plan_text(out)
    assert out.count() == 257


def test_corpus_jaccard_exact(spark):
    from serverless_data_pipeline_spark.operators.dedup import (
        corpus_jaccard,
    )
    a = spark.createDataFrame(
        [("one two three four five",), ("alpha beta gamma delta",)],
        "text string")
    b = spark.createDataFrame(
        [("one two three four five",), ("x y z w v",)], "text string")
    # A: {one two three, two three four, three four five,
    #     alpha beta gamma, beta gamma delta}; B shares the first 3
    r = corpus_jaccard(a, b).first()
    assert (r.n_a, r.n_b, r.n_intersection, r.n_union) == (5, 6, 3, 8)
    assert r.jaccard == 0.375
    assert r.containment_a_in_b == 0.6 and r.containment_b_in_a == 0.5
    ident = corpus_jaccard(a, a).first()
    assert ident.jaccard == 1.0 and ident.containment_a_in_b == 1.0
    disjoint = corpus_jaccard(a, spark.createDataFrame(
        [("p q r s t",)], "text string")).first()
    assert disjoint.jaccard == 0.0 and disjoint.n_intersection == 0


def test_corpus_jaccard_minhash_estimate(spark):
    from serverless_data_pipeline_spark.operators.dedup import (
        corpus_jaccard, corpus_jaccard_minhash,
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    exact = corpus_jaccard(a, b).first().jaccard
    est = corpus_jaccard_minhash(a, b, num_hashes=256)
    # Broder estimator: se ~ 1/sqrt(256) = 0.0625; allow 4 se
    assert abs(est - exact) < 0.25
    assert corpus_jaccard_minhash(a, a, num_hashes=64) == 1.0


def test_corpus_jaccard_minhash_empty_inputs(spark):
    """Both-empty resemblance is undefined (None), matching the exact
    operator's NULL at n_union = 0 — all-NULL signatures must not be
    counted as agreement; one-sided empty is genuinely 0.0."""
    from serverless_data_pipeline_spark.operators.dedup import (
        corpus_jaccard_minhash,
    )
    empty = spark.createDataFrame([], "text string")
    one = spark.createDataFrame([("one two three four",)], "text string")
    assert corpus_jaccard_minhash(empty, empty, num_hashes=16) is None
    assert corpus_jaccard_minhash(empty, one, num_hashes=16) == 0.0


def test_duplicate_ngram_fraction_laws(spark):
    """Lee-et-al dup-ngram metric: exact copies score 1.0, a half-shared
    doc scores its shared window count, unique docs 0.0; a doc repeating
    its OWN phrase does not self-flag (per-doc distinct first); a doc
    too short for any 5-gram gets the whole-text degenerate shingle; an
    empty doc is row-preserved with (0, 0, NULL)."""
    from serverless_data_pipeline_spark.operators.dedup import (
        duplicate_ngram_fraction,
    )
    shared = "one two three four five six"          # 2 distinct 5-grams
    rows = [
        (0, shared),                                 # dup of 1 -> frac 1.0
        (1, shared),
        (2, shared + " unique tail words here"),     # shares 2 of 6
        (3, "totally different text with no overlap at all ok"),
        (4, "echo echo echo echo echo echo echo echo"),  # self-repeat only
        (5, "short text"),                           # whole-text shingle
        (6, ""),                                     # no tokens
    ]
    out = {r.doc_id: r for r in duplicate_ngram_fraction(
        spark.createDataFrame(rows, "doc_id long, text string"))
        .collect()}
    assert len(out) == 7
    assert out[0].dup_ngram_frac == 1.0 and out[1].dup_ngram_frac == 1.0
    assert out[2].n_ngrams == 6 and out[2].dup_ngrams == 2
    assert out[2].dup_ngram_frac == round(2 / 6, 6)
    assert out[3].dup_ngrams == 0 and out[3].dup_ngram_frac == 0.0
    # doc 4: 8 tokens of 'echo' -> every 5-gram identical -> ONE distinct
    # shingle, shared with nobody else -> not self-flagged
    assert out[4].n_ngrams == 1 and out[4].dup_ngrams == 0
    assert out[5].n_ngrams == 1                      # degenerate shingle
    assert out[6].n_ngrams == 0 and out[6].dup_ngrams == 0
    assert out[6].dup_ngram_frac is None


def test_duplicate_ngram_fraction_partition_independence(spark):
    """dupfrac counts are pure integer aggregates — identical results
    under any input partitioning."""
    from serverless_data_pipeline_spark.operators.dedup import (
        duplicate_ngram_fraction,
    )
    rows = [(i, f"alpha beta gamma delta epsilon tok{i % 4} zeta eta")
            for i in range(30)]
    def run(n):
        df = spark.createDataFrame(rows, "doc_id long, text string") \
            .repartition(n)
        return sorted((r.doc_id, r.n_ngrams, r.dup_ngrams,
                       r.dup_ngram_frac)
                      for r in duplicate_ngram_fraction(df).collect())
    assert run(2) == run(11)


def test_duplicate_ngram_fraction_max_doc_freq_cap(spark):
    """r8 hot-shingle lever: with max_doc_freq set, a shingle in MORE
    docs than the cap is boilerplate — excluded from BOTH counts (the
    documented approximation); everything at or under the cap is
    unchanged, and the default stays the exact metric."""
    import pytest as _pt

    from serverless_data_pipeline_spark.operators.dedup import (
        duplicate_ngram_fraction,
    )
    boiler = "all rights reserved by the site"      # 2 distinct 5-grams
    pair = "one two three four five six"            # 2 distinct 5-grams
    rows = ([(i, boiler) for i in range(5)]          # df=5 boilerplate
            + [(10, pair + " " + boiler), (11, pair)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {r.doc_id: r for r in
             duplicate_ngram_fraction(df).collect()}
    capped = {r.doc_id: r for r in
              duplicate_ngram_fraction(df, max_doc_freq=3).collect()}
    # doc 10 has 8 distinct 5-grams: 2 from pair (df=2), 2 boilerplate
    # (df=6: five copies + doc 10) and 4 seam shingles (df=1)
    assert exact[10].n_ngrams == 8 and exact[10].dup_ngrams == 4
    # cap=3 drops the two boilerplate shingles from both counts
    assert capped[10].n_ngrams == 6 and capped[10].dup_ngrams == 2
    # pure-boilerplate docs lose everything -> (0, 0, NULL)
    assert capped[0].n_ngrams == 0 and capped[0].dup_ngrams == 0
    assert capped[0].dup_ngram_frac is None
    # under-cap docs unchanged
    assert (capped[11].n_ngrams, capped[11].dup_ngrams) == \
        (exact[11].n_ngrams, exact[11].dup_ngrams) == (2, 2)
    with _pt.raises(ValueError):
        duplicate_ngram_fraction(df, max_doc_freq=0)


def test_duplicate_ngram_fraction_emit_exact_single_pass(spark):
    """emit_exact: one pipeline yields BOTH report variants, each equal
    to its standalone computation; validation requires the cap."""
    import pytest as _pt

    from serverless_data_pipeline_spark.operators.dedup import (
        duplicate_ngram_fraction,
    )
    rows = ([(i, "all rights reserved by the site") for i in range(5)]
            + [(10, "one two three four five six")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = {r.doc_id: r for r in duplicate_ngram_fraction(
        df, max_doc_freq=3, emit_exact=True).collect()}
    exact = {r.doc_id: r for r in duplicate_ngram_fraction(df).collect()}
    capped = {r.doc_id: r for r in duplicate_ngram_fraction(
        df, max_doc_freq=3).collect()}
    for i in both:
        assert (both[i].n_ngrams_exact, both[i].dup_ngrams_exact) == \
            (exact[i].n_ngrams, exact[i].dup_ngrams)
        assert (both[i].n_ngrams, both[i].dup_ngrams) == \
            (capped[i].n_ngrams, capped[i].dup_ngrams)
    with _pt.raises(ValueError):
        duplicate_ngram_fraction(df, emit_exact=True)
