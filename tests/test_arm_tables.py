"""The arm/subquery contract of the registry's composite rows.

Thirteen rows are built from an ordered {arm_name: builder} table, and
``bench_subqueries()`` is derived from those tables, so a subquery times
exactly the arm its row unions. These checks need no Spark action: the
tags a row emits come from its DuckDB oracle (the value-checked twin of
the Spark row) run at sf0.001.
"""

from __future__ import annotations

import re
from functools import partial

import pytest
from test_schemas import SF001  # the fixture dir the oracle gate reads

import __spark_entry__ as entry_mod

# x_approx's `method` tags in union order: sketches, LSH pairs, ANN
XA_METHODS = (
    "sketch_hll", "sketch_p50", "sketch_cms", "sketch_hll_merged",
    "minhash", "simhash", "embedding", "semantic", "lsh_inline",
    "lsh_indexed", "lsh_join", "ivf", "ivf_indexed", "pq_refined", "ivfpq")
# today's subquery names (README "bench subquery renames" applied)
EXPECTED_SUBQUERIES = {
    *(f"x_approx_suite.{a}" for a in XA_METHODS),
    *(f"x2_dedup_clusters.{a}" for a in (
        "pairs", "label", "star", "pagerank", "url", "hostrank",
        "hostrankd", "hquota", "hquotaq")),
    "x12_segment_dedup.segment", "x12_segment_dedup.passage",
    "x12_segment_dedup.dupfrac",
    "x7_corpus_exact.full", "x7_corpus_exact.incr",
    "x10_decontaminate.report",
    "x13_lm_score.bucket", "x13_lm_score.dsir", "x13_lm_score.lbucket",
    "x11_text_hygiene.c4", "x11_text_hygiene.gopher",
    "x11_text_hygiene.lex",
    *(f"x8_corpus_utils.{a}" for a in (
        "bins", "tok", "rtok", "atok", "blk", "fert", "pos", "eshuf",
        "btok", "lmask")),
    "x3_topk_similarity.rp", "x3_topk_similarity.cbal",
    "x3_topk_similarity.hardneg",
    "x5_text_signals.entropy",
    "t5_quality_score.drift",
    "x6_multimodal.img", "x6_multimodal.vid",
    "x4_pq_exact.pq_adc", "x4_pq_exact.pq_refined", "x4_pq_exact.ivfpq",
}

# tagged-union rows -> their tag column
TAG_COLUMN = {
    "t5_quality_score": "kind", "x2_dedup_clusters": "algo",
    "x3_topk_similarity": "mode", "x4_pq_exact": "method",
    "x6_multimodal": "kind", "x7_corpus_exact": "tag",
    "x8_corpus_utils": "kind", "x10_decontaminate": "tag",
    "x12_segment_dedup": "variant", "x13_lm_score": "tag",
    "x_approx_suite": "method",
}
# doc_id join rows: their arms are join inputs and emit no tag
JOIN_ROWS = {"x5_text_signals", "x11_text_hygiene"}


def _arm_of(tag: str, arms) -> str | None:
    """The arm that emits ``tag``: the arm named ``tag``, or the arm
    ``a`` whose data-dependent tags read ``a_<suffix>``."""
    if tag in arms:
        return tag
    owners = [a for a in arms if tag.startswith(a + "_")]
    return owners[0] if len(owners) == 1 else None


def test_every_arm_row_is_a_registry_row():
    assert set(entry_mod.ARM_TABLES) == set(TAG_COLUMN) | JOIN_ROWS
    assert set(entry_mod.ARM_TABLES) <= set(entry_mod.queries())


def test_subquery_names_are_frozen():
    assert set(entry_mod.bench_subqueries()) == EXPECTED_SUBQUERIES


def test_every_subquery_builds_an_arm_of_its_row():
    for name, fn in entry_mod.bench_subqueries().items():
        row, arm = name.split(".", 1)
        assert isinstance(fn, partial) and fn.func is entry_mod.arm_query
        assert fn.args == (row, arm), name
        assert arm in entry_mod.ARM_TABLES[row][1], name


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF001}/{t}.parquet')")
    yield con
    con.close()


# x2's oracle (a recursive-CTE transitive closure) takes ~100 s in
# DuckDB even at sf0.001; its tags are plain `'<tag>' AS algo` literals,
# read from the SQL text instead.
SLOW_ORACLES = {"x2_dedup_clusters"}


@pytest.mark.parametrize("row", sorted(set(TAG_COLUMN)
                                       - {"x_approx_suite"}))
def test_arm_table_matches_the_tags_the_row_emits(duck, row):
    col = TAG_COLUMN[row]
    sql = entry_mod.oracle_sql()[row]
    if row in SLOW_ORACLES:
        tags = set(re.findall(rf"'(\w+)'\s+AS\s+{col}\b", sql))
    else:
        tags = {r[0] for r in duck.execute(
            f"SELECT DISTINCT {col} FROM ({sql}) WHERE {col} IS NOT NULL"
        ).fetchall()}
    arms = entry_mod.ARM_TABLES[row][1]
    owners = {t: _arm_of(t, arms) for t in tags}
    assert None not in owners.values(), (
        f"{row}: tags with no arm: "
        f"{sorted(t for t, a in owners.items() if a is None)}")
    silent = set(arms) - set(owners.values())
    assert not silent, f"{row}: arms emitting no tag: {sorted(silent)}"


def test_x_approx_arms_are_its_methods():
    """x_approx has no oracle: its arms are named by the `method` tag
    each emits, in union order."""
    assert tuple(entry_mod.ARM_TABLES["x_approx_suite"][1]) == XA_METHODS


def test_shared_builds_each_intermediate_once_under_threads():
    """Arms of a concurrent row read one `_Shared` from many threads: each
    intermediate must still be built exactly once."""
    import sys
    import threading
    import time

    calls = {"a": 0, "b": 0}

    def make(name):
        def maker(s):
            calls[name] += 1
            time.sleep(0.01)  # widen the check-then-build window
            return name if name == "a" else s.a + name
        return maker

    shared = entry_mod._Shared(None, None, {n: make(n) for n in calls})
    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: got.append(shared.b))
                   for _ in range(32)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert got == ["ab"] * 32 and calls == {"a": 1, "b": 1}
