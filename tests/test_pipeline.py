"""EP1 end-to-end (SURVEY §5.2.4): partition layout, both sides of the
quality gate, invalid-batch routing, state-table audit trail."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_data_pipeline_spark.config import EngineConfig
from serverless_data_pipeline_spark.plans.control import PipelineControl
from serverless_data_pipeline_spark.plans.pipeline import run_pipeline
from serverless_data_pipeline_spark.plans.state import STATE_SCHEMA, StateTable

TS = dt.datetime(2024, 6, 15, 9, 0, 0)
REQUIRED = {"id": T.LongType(), "ts": T.TimestampType()}


@pytest.fixture
def paths(tmp_path):
    return {k: str(tmp_path / k)
            for k in ("processed", "archive", "errors", "state")}


def _batch(spark, rows=None):
    rows = rows or [(1, TS, "OK"), (2, TS, "ALSO ok")]
    return spark.createDataFrame(rows, "id long, ts timestamp, note string")


def test_e2e_success_partition_layout(spark, paths):
    state = StateTable(spark, paths["state"])
    res = run_pipeline(_batch(spark), processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED)
    assert res.status == "SUCCEEDED"
    assert res.counts == {"processed": 2, "invalid": 0}
    # Firehose-style hive layout (py:197)
    leaf = os.path.join(paths["processed"],
                        "year=2024", "month=6", "day=15", "hour=9")
    assert os.path.isdir(leaf)
    assert os.path.isdir(paths["archive"])
    # state audit trail covers every stage
    stages_seen = {r.stage for r in state.history(res.pipeline_id).collect()}
    assert {"ingest", "validate", "quality", "sink"} <= stages_seen
    # strings were cleaned by transform
    out = spark.read.parquet(paths["processed"])
    assert {r.note for r in out.collect()} == {"ok", "also ok"}


def test_e2e_quality_gate_fail_side(spark, paths):
    state = StateTable(spark, paths["state"])
    res = run_pipeline(
        _batch(spark), processed_path=paths["processed"],
        archive_path=paths["archive"], error_path=paths["errors"],
        state=state, required=REQUIRED,
        quality_rules=[F.col("id") > 99],          # 0% pass rate
        config=EngineConfig(quality_threshold=0.95))
    assert res.status == "FAILED"
    assert res.failure_reason == "Data quality score below threshold"
    assert not os.path.exists(paths["processed"])  # gate blocked the sink


def test_e2e_quality_gate_pass_side(spark, paths):
    state = StateTable(spark, paths["state"])
    res = run_pipeline(
        _batch(spark), processed_path=paths["processed"],
        archive_path=paths["archive"], error_path=paths["errors"],
        state=state, required=REQUIRED,
        quality_rules=[F.col("id") >= 1],          # 100% pass rate
        config=EngineConfig(quality_threshold=0.95))
    assert res.status == "SUCCEEDED"
    assert os.path.exists(paths["processed"])


def test_e2e_invalid_batch_routes_to_error(spark, paths):
    state = StateTable(spark, paths["state"])
    bad = spark.createDataFrame(
        [(None, TS, "x"), (None, TS, "y")], "id long, ts timestamp, note string")
    res = run_pipeline(bad, processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED)
    assert res.status == "FAILED"
    assert res.failure_reason == "validation_failed"
    assert os.path.exists(paths["errors"])         # quarantined, not dropped
    quarantined = spark.read.json(paths["errors"])
    assert quarantined.count() == 2
    assert "_error_reason" in quarantined.columns


def test_e2e_partial_invalid_quarantines_rows(spark, paths):
    state = StateTable(spark, paths["state"])
    mixed = spark.createDataFrame(
        [(1, TS, "good"), (None, TS, "bad")], "id long, ts timestamp, note string")
    res = run_pipeline(mixed, processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED)
    assert res.status == "SUCCEEDED"
    assert res.counts == {"processed": 1, "invalid": 1}


def test_sla_stage_timings_recorded(spark, paths):
    """Every state row carries stage/total wall-clock (the 2 h
    state-machine-timeout analogue, py:427) and totals are monotone in
    append order."""
    import json
    state = StateTable(spark, paths["state"])
    res = run_pipeline(_batch(spark), processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED)
    assert res.status == "SUCCEEDED"
    rows = sorted(state.history(res.pipeline_id).collect(),
                  key=lambda r: r.timestamp)
    details = [json.loads(r.detail) for r in rows]
    for d in details:
        assert d["stage_elapsed_s"] >= 0.0
        assert d["total_elapsed_s"] >= 0.0
    totals = [d["total_elapsed_s"] for d in details]
    assert totals == sorted(totals)


def test_sla_budget_breach_fails_run(spark, paths):
    """A zero budget breaches at the first stage boundary: the run flips
    to FAILED with reason sla_budget_exceeded, a FAILED state row lands,
    and the processed sink is never written (abort-without-output)."""
    import json
    state = StateTable(spark, paths["state"])
    res = run_pipeline(_batch(spark), processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED,
                       config=EngineConfig(sla_budget_s=0.0))
    assert res.status == "FAILED"
    assert res.failure_reason == "sla_budget_exceeded"
    assert not os.path.exists(paths["processed"])
    failed = [r for r in state.history(res.pipeline_id).collect()
              if r.status == "FAILED"]
    assert len(failed) == 1
    d = json.loads(failed[0].detail)
    assert d["reason"] == "sla_budget_exceeded"
    assert d["budget_s"] == 0.0


def test_state_table_compaction(spark, paths):
    import glob
    state = StateTable(spark, paths["state"])
    for i in range(5):
        state.append(f"p{i}", "stage", "RUNNING", {})
    files_before = len(glob.glob(paths["state"] + "/*.parquet"))
    n = state.compact()
    files_after = len(glob.glob(paths["state"] + "/*.parquet"))
    assert n == 5
    assert files_after < files_before
    assert state.history().count() == 5          # nothing lost


def test_control_plane_listing(spark, paths):
    state = StateTable(spark, paths["state"])
    res = run_pipeline(_batch(spark), processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED)
    ctl = PipelineControl(state)
    current = ctl.list_pipelines()
    assert len(current) == 1 and current[0]["status"] == "SUCCEEDED"
    history = ctl.get_pipeline(res.pipeline_id)
    assert len(history) >= 4
    ctl.cancel_pipeline(res.pipeline_id)
    assert ctl.list_pipelines(status="CANCELLED")


def test_control_plane_start_and_update(spark, paths):
    state = StateTable(spark, paths["state"])
    ctl = PipelineControl(state)
    pid = ctl.start_pipeline(source="api", data_type="json",
                             priority="high", metadata={"batch_id": "b-1"})
    assert pid.startswith("pipeline-")
    listed = ctl.list_pipelines(status="SUBMITTED")
    assert [p["pipeline_id"] for p in listed] == [pid]
    ctl.update_pipeline(pid, priority="low")
    cur = {p["pipeline_id"]: p for p in ctl.list_pipelines()}
    assert cur[pid]["status"] == "UPDATED"
    hist = ctl.get_pipeline(pid)
    assert [h["status"] for h in hist] == ["SUBMITTED", "UPDATED"]


# --- one state commit per run ------------------------------------------

def _state_files(paths):
    return glob.glob(os.path.join(paths["state"], "part-*.parquet"))


def _trail(state, pid):
    rows = sorted(state.history(pid).collect(), key=lambda r: r.timestamp)
    return [(r.stage, r.status, json.loads(r.detail)) for r in rows]


_TRAILS = {
    "success": [("ingest", "RUNNING"), ("validate", "RUNNING"),
                ("quality", "RUNNING"), ("sink", "SUCCEEDED")],
    "quality_fail": [("ingest", "RUNNING"), ("validate", "RUNNING"),
                     ("quality", "RUNNING"), ("quality", "FAILED")],
    "validation_fail": [("ingest", "RUNNING"), ("validate", "RUNNING"),
                        ("validate", "FAILED")],
    "sla_fail": [("ingest", "RUNNING"), ("validate", "RUNNING"),
                 ("validate", "FAILED")],
}


# Spark jobs per exit path as measured on a 4-core host: the scoring
# aggregation (3 under AQE, filling the cache), the quarantine, archive
# and sink writes the path reaches, and the one state commit
_JOBS = {"success": 6, "quality_fail": 5, "validation_fail": 5,
         "sla_fail": 4}


def _run(spark, paths, state, kind):
    """One run that exits through `kind`'s path (columns need a live
    session, so the per-path arguments are built here)."""
    kwargs = {
        "success": {},
        "quality_fail": {"quality_rules": [F.col("id") > 99],
                         "config": EngineConfig(quality_threshold=0.95)},
        "validation_fail": {"checks": [F.col("id") > 99]},
        "sla_fail": {"config": EngineConfig(sla_budget_s=0.0)},
    }[kind]
    return run_pipeline(_batch(spark), processed_path=paths["processed"],
                        archive_path=paths["archive"],
                        error_path=paths["errors"], state=state,
                        required=REQUIRED, **kwargs)


@pytest.mark.parametrize("kind", sorted(_TRAILS))
def test_run_commits_its_trail_once(spark, paths, kind):
    """Every exit path writes the run's whole trail as ONE state file, in
    the stage order the per-stage appends used to produce, and the run
    stays within its Spark job budget. A success run took 15 jobs on a
    4-core host when each stage mark was its own write job and the sink
    was recounted, and 10 with three caches and separate count, emptiness
    and scoring jobs; one scoring job that also counts the split leaves
    6."""
    expected = _TRAILS[kind]
    state = StateTable(spark, paths["state"])
    sc = spark.sparkContext
    group = f"run-{kind}"
    sc.setJobGroup(group, "one state commit per run")
    try:
        res = _run(spark, paths, state, kind)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= _JOBS[kind]
    assert len(_state_files(paths)) == 1
    trail = _trail(state, res.pipeline_id)
    assert [(s, st) for s, st, _ in trail] == expected
    assert res.status == expected[-1][1]
    if kind == "success":
        written = spark.read.parquet(paths["processed"]).count()
        assert res.counts == {"processed": written, "invalid": 0}
        assert trail[-1][2]["rows"] == written == 2


def test_raising_stage_ends_trail_failed(spark, paths):
    """A stage that raises still commits the trail — with a terminal
    FAILED row naming the error — in one file, then re-raises."""
    with open(paths["processed"], "w") as f:      # the sink cannot write
        f.write("not a directory")
    state = StateTable(spark, paths["state"])
    pid = "pipeline-sink-raises"
    with pytest.raises(Exception) as raised:
        run_pipeline(_batch(spark), processed_path=paths["processed"],
                     archive_path=paths["archive"],
                     error_path=paths["errors"], state=state,
                     required=REQUIRED, pipeline_id=pid)
    assert len(_state_files(paths)) == 1
    trail = _trail(state, pid)
    assert [(s, st) for s, st, _ in trail] == [
        ("ingest", "RUNNING"), ("validate", "RUNNING"),
        ("quality", "RUNNING"), ("sink", "FAILED")]
    detail = trail[-1][2]
    assert detail["reason"] == "exception"
    assert detail["error"].startswith(type(raised.value).__name__ + ": ")
    cur = state.current().filter(F.col("pipeline_id") == pid).collect()
    assert [(r.stage, r.status) for r in cur] == [("sink", "FAILED")]
    assert json.loads(cur[0].detail) == detail


def test_failed_commit_keeps_the_stage_error_chained(spark, paths,
                                                     monkeypatch):
    """When the trail commit itself fails after a stage raised, the commit
    error propagates with the stage error as its __context__."""
    stage_error = RuntimeError("archive down")

    def broken_archive(*a, **k):
        raise stage_error

    def broken_append(self, *a, **k):
        raise OSError("state store down")

    from serverless_data_pipeline_spark.sources import writers
    monkeypatch.setattr(writers, "write_archive", broken_archive)
    monkeypatch.setattr(StateTable, "append", broken_append)
    with pytest.raises(OSError) as raised:
        run_pipeline(_batch(spark), processed_path=paths["processed"],
                     archive_path=paths["archive"],
                     error_path=paths["errors"], state=StateTable(
                         spark, paths["state"]), required=REQUIRED)
    assert raised.value.__context__ is stage_error


def test_trail_stamps_strictly_increase_under_a_frozen_clock(spark, paths,
                                                             monkeypatch):
    """Marks stamped with no write between them can share a clock reading;
    stamps are bumped so current() still picks the terminal row."""
    from serverless_data_pipeline_spark.plans import state as state_mod
    frozen = dt.datetime(2024, 6, 15, 9, 0, 0, tzinfo=dt.timezone.utc)
    monkeypatch.setattr(state_mod, "_utcnow", lambda: frozen)
    state = StateTable(spark, paths["state"])
    for kind in ("quality_fail", "validation_fail"):
        expected = _TRAILS[kind]
        res = _run(spark, paths, state, kind)
        rows = state.history(res.pipeline_id).collect()   # file order
        stamps = [r.timestamp for r in rows]
        assert all(a < b for a, b in zip(stamps, stamps[1:]))
        assert [(r.stage, r.status) for r in rows] == expected
        cur = state.current().filter(
            F.col("pipeline_id") == res.pipeline_id).collect()
        assert [(r.stage, r.status) for r in cur] == [expected[-1]]
        # test_sla_stage_timings_recorded's law under the frozen clock
        totals = [d["total_elapsed_s"] for _, _, d in
                  _trail(state, res.pipeline_id)]
        assert totals == sorted(totals)


def test_control_plane_id_meets_run_id(spark, paths):
    """start_pipeline's id threads into run_pipeline: one trail from the
    SUBMITTED marker to the sink."""
    state = StateTable(spark, paths["state"])
    ctl = PipelineControl(state)
    pid = ctl.start_pipeline(source="api", metadata={"batch_id": "b-2"})
    res = run_pipeline(_batch(spark), processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED, pipeline_id=pid)
    assert res.pipeline_id == pid
    hist = ctl.get_pipeline(pid)
    assert (hist[0]["stage"], hist[0]["status"]) == ("control", "SUBMITTED")
    assert (hist[-1]["stage"], hist[-1]["status"]) == ("sink", "SUCCEEDED")
    assert [(p["pipeline_id"], p["status"])
            for p in ctl.list_pipelines()] == [(pid, "SUCCEEDED")]


# --- one decision job: exits, counts and the score ----------------------

def _quarantined(paths):
    """(note, reason) of every quarantined row."""
    rows = []
    for name in glob.glob(os.path.join(paths["errors"], "*.json")):
        with open(name) as f:
            rows += [json.loads(line) for line in f]
    return sorted((r["note"], r["_error_reason"]) for r in rows)


@pytest.mark.parametrize("case", ["missing", "missing_dims", "mistyped",
                                  "mistyped_dims"])
def test_structural_failure_quarantines_the_whole_batch(spark, paths, case):
    """A missing or mistyped required column fails the batch before any
    transform — also when a `dims` join is keyed on that column."""
    schema = ("note string, ts timestamp" if case.startswith("missing")
              else "id int, ts timestamp, note string")
    rows = ([("A", TS), ("B", TS)] if case.startswith("missing")
            else [(1, TS, "A"), (2, TS, "B")])
    dim = spark.createDataFrame([(1, "one")], "id long, label string")
    dims = {"d": (dim, ["id"])} if case.endswith("_dims") else None
    res = run_pipeline(spark.createDataFrame(rows, schema),
                       processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"],
                       state=StateTable(spark, paths["state"]),
                       required=REQUIRED, dims=dims)
    assert (res.status, res.failure_reason) == ("FAILED", "validation_failed")
    assert res.counts == {"invalid": 2}
    assert res.quality_score is None
    assert _quarantined(paths) == [("A", "validation_failed"),
                                   ("B", "validation_failed")]
    assert not os.path.exists(paths["archive"])
    assert not os.path.exists(paths["processed"])


@pytest.mark.parametrize("structural", [False, True])
def test_empty_batch_fails_validation_without_quarantine(spark, paths,
                                                         structural):
    schema = ("note string" if structural
              else "id long, ts timestamp, note string")
    state = StateTable(spark, paths["state"])
    res = run_pipeline(spark.createDataFrame([], schema),
                       processed_path=paths["processed"],
                       archive_path=paths["archive"],
                       error_path=paths["errors"], state=state,
                       required=REQUIRED)
    assert (res.status, res.failure_reason) == ("FAILED", "validation_failed")
    assert res.counts == {"invalid": 0}
    assert not os.path.exists(paths["errors"])
    assert [(s, st) for s, st, _ in _trail(state, res.pipeline_id)] == \
        _TRAILS["validation_fail"]


def test_null_check_result_counts_as_invalid(spark, paths):
    """A row whose `checks` predicate is NULL is invalid: counted,
    quarantined and kept out of the sink."""
    res = run_pipeline(
        _batch(spark, [(1, TS, "a"), (2, TS, "b"), (3, TS, "c")]),
        processed_path=paths["processed"], archive_path=paths["archive"],
        error_path=paths["errors"], state=StateTable(spark, paths["state"]),
        required=REQUIRED,
        checks=[F.when(F.col("id") == 2, F.lit(None).cast("boolean"))
                .otherwise(F.lit(True))])
    assert res.status == "SUCCEEDED"
    assert res.counts == {"processed": 2, "invalid": 1}
    assert _quarantined(paths) == [("b", "validation_failed")]
    out = spark.read.parquet(paths["processed"])
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_score_is_the_quality_score_of_the_transformed_valid_rows(spark,
                                                                   paths):
    """The decision job's score equals `quality_score(transform(valid))`
    exactly, on a batch with NULL optional fields, invalid rows and soft
    rules; the gate is decided from it on both sides."""
    from serverless_data_pipeline_spark.operators import stages

    df = _batch(spark, [(1, TS, "a"), (2, TS, None), (3, TS, None),
                        (None, TS, "x"), (5, TS, "e"), (6, None, "f"),
                        (7, TS, "g")])
    checks = [F.col("id") != 7]
    rules = [F.col("note").isNotNull(), F.col("id") < 3]
    valid = stages.validate(stages.ingest(df), REQUIRED, checks).valid
    expected = stages.quality_score(stages.transform(valid), rules=rules)
    assert 0.0 < expected < 1.0
    for threshold, status in ((expected - 1e-9, "SUCCEEDED"),
                              (expected, "FAILED")):
        run_paths = {k: v + status for k, v in paths.items()}
        res = run_pipeline(df, processed_path=run_paths["processed"],
                           archive_path=run_paths["archive"],
                           error_path=run_paths["errors"],
                           state=StateTable(spark, run_paths["state"]),
                           required=REQUIRED, checks=checks,
                           quality_rules=rules,
                           config=EngineConfig(quality_threshold=threshold))
        assert res.quality_score == expected
        assert res.status == status
        assert os.path.exists(run_paths["processed"]) == (
            status == "SUCCEEDED")
        if status == "SUCCEEDED":
            assert res.counts == {"processed": 4, "invalid": 3}


# --- the state commit runs in the JVM -----------------------------------

def _new_executions(spark, action):
    """Physical plan descriptions of the SQL executions `action` runs."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        execs = store.executionsList()
        return {execs.apply(i).executionId(): execs.apply(i)
                for i in range(execs.size())}

    before = set(ids())
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [e.physicalPlanDescription() for i, e in ids().items()
            if i not in before]


def test_state_commit_starts_no_python_worker(spark, paths):
    """The append's write scans no Python-built RDD, and a detail with
    quotes, non-ASCII text and a 500-character error comes back
    byte-identical."""
    state = StateTable(spark, paths["state"])
    detail = {"reason": "exception",
              "error": ('ValueError: "bad" \'row\' — naïve café 日本 '
                        + "e" * 500)[:500]}
    earlier = [("p-lit", "2024-06-15T09:00:00.000000+00:00", "ingest",
                "RUNNING", json.dumps({"source": "s3"}))]
    plans = _new_executions(spark, lambda: state.append(
        "p-lit", "sink", "FAILED", detail, earlier=earlier))
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1
    assert "ExistingRDD" not in writes[0]
    assert "PythonRDD" not in writes[0]
    assert len(_state_files(paths)) == 1
    rows = sorted(state.history("p-lit").collect(), key=lambda r: r.timestamp)
    assert [tuple(r) for r in rows[:1]] == earlier
    assert (rows[1].stage, rows[1].status) == ("sink", "FAILED")
    assert rows[1].detail == json.dumps(detail)
    assert json.loads(rows[1].detail) == detail
    assert spark.read.parquet(paths["state"]).schema == \
        spark.read.schema(STATE_SCHEMA).parquet(paths["state"]).schema
