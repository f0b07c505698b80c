"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _files(root):
    return sorted(f for f in os.listdir(root))


def _generate(root, seed):
    etl = gen.etl_batches(os.path.join(root, "etl"), seed, 3, 300, 1)
    base = gen.corpus_base(os.path.join(root, "corpus"), seed, 50)
    day = gen.corpus_day(os.path.join(root, "corpus"), seed, 2,
                         base["tokens"], 40, 10, 6)
    return etl, base, day


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 7)
    for sub in ("etl", "corpus"):
        a, b = tmp_path / "a" / sub, tmp_path / "b" / sub
        assert _files(a) == _files(b)
        match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a),
                                                   shallow=False)
        assert not mismatch and not errors


def test_other_seed_gives_other_inputs_of_the_same_size(tmp_path):
    etl_a, base_a, day_a = _generate(tmp_path / "a", 7)
    etl_b, base_b, day_b = _generate(tmp_path / "b", 8)
    assert [b["lines"] for b in etl_a["batches"]] == \
        [b["lines"] for b in etl_b["batches"]]
    assert day_a["n_docs"] == day_b["n_docs"]
    assert len(base_a["tokens"]) == len(base_b["tokens"])
    for k in ("unique", "cross", "contaminated", "boilerplate"):
        assert len(day_a[k]) == len(day_b[k])
    assert open(day_a["paths"]["docs"]).read() != \
        open(day_b["paths"]["docs"]).read()


def test_planted_truth_partitions_each_batch(tmp_path):
    etl, _, day = _generate(tmp_path, 3)
    for b in etl["batches"]:
        ids = b["bad_ids"] + b["good_ids"] + b["corrupt_ids"]
        assert len(set(ids)) == len(ids) == b["lines"]
    assert [b["low_quality"] for b in etl["batches"]] == [False, True, False]
    ids = json.loads(open(day["paths"]["docs"]).readline())
    assert ids["doc_id"] == 200_000


def test_tampered_batch_output_is_a_failed_operation():
    b = {"path": "batch-000.json", "lines": 10, "bad_ids": [1, 2],
         "good_ids": list(range(3, 10)), "corrupt_ids": [10],
         "low_quality": False}
    good, bad, corrupt = list(range(3, 10)), [1, 2], [10]
    ok = workloads.batch_problems
    assert ok(b, "SUCCEEDED", good, bad, corrupt) == []
    assert ok(b, "SUCCEEDED", good[1:], bad, corrupt)         # lost row
    assert ok(b, "SUCCEEDED", good + [3], bad, corrupt)       # row twice
    assert ok(b, "FAILED", good, bad, corrupt)                # bad status
    # a good row quarantined and a bad row processed: counts still match
    swapped = ok(b, "SUCCEEDED", [1] + good[1:], [3, 2], corrupt)
    assert len(swapped) == 2
    low = dict(b, low_quality=True)
    assert ok(low, "FAILED", [], bad, corrupt) == []
    assert ok(low, "FAILED", good, bad, corrupt)              # leaked


def test_quarantine_ids_are_read_from_rows_and_corrupt_text(tmp_path):
    (tmp_path / "part-0.json").write_text(
        '{"event_id":4,"_error_reason":"validation_failed"}\n'
        '{"_corrupt_record":"{\\"event_id\\": 7, \\"ts\\": \\"broken"}\n')
    (tmp_path / "_SUCCESS").write_text("")
    assert workloads.json_ids(str(tmp_path)) == [4, 7]


def test_tampered_curation_output_is_a_failed_operation():
    truth = {"contaminated": [9]}
    rows = [(1, "a b c"), (2, "d e")]
    assert workloads.curation_problems(rows, [(2, 5)], truth) == []
    assert workloads.curation_problems(rows, [(2, 4)], truth)  # bad stats
    dup = rows + [(3, "A  B c")]                              # same fp
    assert workloads.curation_problems(dup, [(3, 8)], truth)
    leak = rows + [(9, "x")]
    assert workloads.curation_problems(leak, [(3, 6)], truth)


def test_tampered_redelivery_is_caught():
    ok = {1: "exact_index", 2: "exact_index", 3: "neardup_index"}
    sent = {1, 2, 3}
    assert workloads.redelivery_problems(ok, sent, {1, 2}) == []
    assert workloads.redelivery_problems({**ok, 3: None}, sent, {1, 2})
    assert workloads.redelivery_problems({**ok, 2: "exact_batch"}, sent,
                                         {1, 2})
    assert workloads.redelivery_problems({1: "exact_index",
                                          2: "exact_index"}, sent, {1, 2})


def test_query_results_compare_order_insensitively():
    assert workloads.same_rows([(1, 2.0), (2, None)],
                               [(2, None), (1, 2.0000000001)])
    assert not workloads.same_rows([(1, 2.0)], [(1, 2.5)])
    assert not workloads.same_rows([(1, 2.0)], [(1, 2.0), (1, 2.0)])


def test_a_failed_check_or_an_error_fails_the_operation():
    good = workloads.Step(op_s=1.0)
    bad = workloads.Step(op_s=1.0, problems=["x"])
    assert run.account([good, good], []) == (2, 0)
    assert run.account([good, bad], []) == (2, 1)
    assert run.account([good], ["boom"]) == (2, 1)


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 41)]
    assert run.tail(xs) == (30.0, 75.0, 40)


def test_self_time_subtracts_merged_child_intervals():
    s = {0: {"id": 0, "name": "root", "parent": None, "start": 0, "end": 10},
         1: {"id": 1, "name": "a", "parent": 0, "start": 1, "end": 4},
         2: {"id": 2, "name": "b", "parent": 0, "start": 3, "end": 6},
         3: {"id": 3, "name": "c", "parent": 2, "start": 4, "end": 5},
         4: {"id": 4, "name": "d", "parent": 0, "start": 8, "end": 12}}
    st = spans.self_times(s)
    assert st == {0: 10 - (5 + 2), 1: 3, 2: 2, 3: 1, 4: 4}
    assert spans.subtree(s, {2}) == {2, 3}


def test_event_log_rolls_up_per_span():
    prop = {spans.SPAN_PROPERTY: "1"}
    task = lambda stage, run_ms, ok=True: {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {"Executor Run Time": run_ms,
                         "Executor CPU Time": 1000, "JVM GC Time": 1,
                         "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                         "Input Metrics": {"Bytes Read": 7}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": prop},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3}, "Properties": prop},
        task(3, 10), task(3, 10), task(3, 40, ok=False),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
    ]
    r = spans.rollup(events)
    assert set(r) == {1}
    assert r[1]["jobs"] == 1 and r[1]["tasks"] == 3
    assert r[1]["failed_tasks"] == 1 and r[1]["run_ms"] == 60
    assert r[1]["shuffle_write"] == 15 and r[1]["input_bytes"] == 21
    assert r[1]["skew"] == 4.0


def test_benchmark_json_matches_the_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert all(w["why"] for w in bench["workloads"])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and \
        e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in e2e.values():
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    assert set(per_layer) == set(layers.LAYERS)
    for m in per_layer.values():
        assert m["unit"] and m["better"] in ("lower", "higher")
    for moves, where in layers.LAYERS.values():
        assert moves in e2e                # the end-to-end metric it moves
        assert where in set(workloads.WORKLOADS) | {"all"}
    assert set(run.metric_units()) == set(e2e) | set(per_layer)
