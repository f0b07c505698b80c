"""EP1 — the batch pipeline driver (SURVEY §3 EP1).

Re-expresses the reference's Step Functions state machine
(DataPipelineStateMachine, py:424-436) as one driver function. The managed
control flow collapses to plain Python:

    ValidateData (py:342-350)    -> stages.validity (one flag per row)
    ValidationChoice (py:404-408)-> if n_invalid / if not n_valid
    TransformData (py:352-360)   -> stages.transform
    QualityCheck (py:362-370)    -> stages.quality_score
    QualityChoice (py:411-418)   -> if score > threshold
    ErrorHandler (py:393-401)    -> quarantine write + FAILED state row
    Succeed/Fail (py:414-417)    -> PipelineResult.status

Every arrow in the reference crosses a Lambda/process boundary; here the
only real boundaries are shuffles (none in the stage chain — it is
narrow-only) and the final partitioned sink commit. n_invalid, n_valid
and the score all come from ONE Spark job: the quality_score aggregation
over the cached, flagged batch, which carries the counts as an
Observation.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_data_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig
from serverless_data_pipeline_spark.operators import stages
from serverless_data_pipeline_spark.plans.state import (
    StateTable, new_pipeline_id, state_row,
)
from serverless_data_pipeline_spark.sources import writers


@dataclass
class PipelineResult:
    pipeline_id: str
    status: str                  # SUCCEEDED | FAILED
    quality_score: float | None = None
    failure_reason: str | None = None
    counts: dict = field(default_factory=dict)


def run_pipeline(df: DataFrame, *, processed_path: str, archive_path: str,
                 error_path: str, state: StateTable,
                 required: dict[str, T.DataType],
                 checks: list[Column] | None = None,
                 quality_rules: list[Column] | None = None,
                 ts_col: str = "ts",
                 dims: dict | None = None,
                 source: str = "s3",
                 config: EngineConfig = DEFAULT_CONFIG,
                 pipeline_id: str | None = None) -> PipelineResult:
    """`checks` are hard validity predicates (row fails -> quarantine);
    `quality_rules` are soft quality predicates scored by QualityCheck.
    The quality score covers ALL columns of the transformed batch plus the
    soft rules — NOT just the columns validate() already null-enforced
    (scoring those alone is always 1.0: a dead gate).

    `pipeline_id` is the run's identity: pass the id
    `PipelineControl.start_pipeline` returned so the stage rows join its
    SUBMITTED marker; by default the run mints a new one.

    State trail: each stage transition is stamped (timestamp, elapsed
    times) when it happens but buffered, and the run commits its whole
    trail in ONE `state.append` when it ends — on success, on every
    FAILED path, and when a stage raises (a FAILED row with reason
    "exception" is added, then the error re-raised). A state commit is a
    Spark write job, so this is one job per run instead of one per stage.
    The trade: a run's rows become visible together at its end, and a
    process killed mid-run leaves no rows at all; the in-flight signal
    is the SUBMITTED marker `PipelineControl.start_pipeline` appends up
    front.

    Jobs: the flagged batch is the run's one cache, and one aggregation
    over it (`stages.quality_score` of the transformed valid rows, which
    also counts valid and invalid rows) decides every branch before any
    write. So the validate row's `stage_elapsed_s` includes the scoring,
    and the quality row's covers the archive write. A batch that fails
    structurally (a required column missing or mistyped) is counted
    instead and never transformed.

    SLA: every state row records `stage_elapsed_s` / `total_elapsed_s`
    wall-clock, and each stage boundary checks the cumulative elapsed
    against `config.sla_budget_s` (the analogue of the reference state
    machine's 2 h timeout, py:427). A breach ends the trail with a FAILED
    row with reason "sla_budget_exceeded" and aborts before the next
    stage — in particular before the processed-tier sink commit, matching
    the abort-without-output semantics of a Step Functions timeout."""
    pid = pipeline_id or new_pipeline_id()
    t0 = time.monotonic()
    last_mark = t0
    trail: list[tuple] = []

    def _timed(detail: dict | None) -> dict:
        nonlocal last_mark
        now = time.monotonic()
        d = dict(detail or {})
        d["stage_elapsed_s"] = round(now - last_mark, 3)
        d["total_elapsed_s"] = round(now - t0, 3)
        last_mark = now
        return d

    def _mark(stage: str, status: str, detail: dict | None = None) -> None:
        trail.append(state_row(pid, stage, status, _timed(detail),
                               after=trail[-1] if trail else None))

    def _finish(stage: str, status: str, detail: dict,
                **result) -> PipelineResult:
        # the run's one state commit: the buffered trail + this last row
        state.append(pid, stage, status, _timed(detail), earlier=trail)
        return PipelineResult(pid, status, **result)

    def _sla_breached() -> bool:
        return (config.sla_budget_s is not None
                and time.monotonic() - t0 > config.sla_budget_s)

    def _sla_fail(stage: str) -> PipelineResult:
        return _finish(stage, "FAILED", {"reason": "sla_budget_exceeded",
                                         "budget_s": config.sla_budget_s},
                       failure_reason="sla_budget_exceeded")

    _mark("ingest", "RUNNING", {"source": source})
    stage = "ingest"
    batch = None
    try:
        ingested = stages.ingest(df, source=source)
        stage = "validate"

        # ValidateData -> ValidationChoice (py:404-408). The flagged batch
        # is the run's one cache: the decision job, the quarantine, the
        # archive and the sink all read it, so the input is scanned once.
        ok = stages.validity(ingested, required, checks)
        if ok is None:
            # structural failure: the whole batch is invalid and never
            # reaches transform (its `dims` may join on the missing column)
            batch = ingested.cache()
            valid, invalid = None, batch
            n_invalid, n_valid, score = batch.count(), 0, None
        else:
            batch = ingested.withColumn(stages.OK_COL, ok).cache()
            split = stages.split_flagged(batch)
            valid, invalid = split.valid, split.invalid
            # QualityCheck (py:362-370) is the decision job: one
            # aggregation scores the transformed valid rows (every column
            # + soft rules) and counts valid/invalid rows as it reads the
            # cache. The counts are read only after that job has run.
            counted = Observation()
            observed = batch.observe(
                counted, F.count(F.lit(1)).alias("rows"),
                F.count_if(F.col(stages.OK_COL)).alias("valid"))
            score = stages.quality_score(
                stages.transform(stages.split_flagged(observed).valid,
                                 ts_col=ts_col, dims=dims),
                rules=quality_rules)
            seen = counted.get
            n_valid, n_invalid = seen["valid"], seen["rows"] - seen["valid"]
        _mark("validate", "RUNNING", {"invalid_rows": n_invalid})
        if n_invalid:
            writers.write_quarantine(invalid, error_path, "validation_failed")
        if not n_valid:
            # whole batch invalid -> ErrorHandler path (py:393-401)
            return _finish("validate", "FAILED", {"invalid_rows": n_invalid},
                           failure_reason="validation_failed",
                           counts={"invalid": n_invalid})
        if _sla_breached():
            return _sla_fail("validate")

        # TransformData (py:352-360): archive branch, then QualityChoice
        stage = "quality"
        writers.write_archive(valid, archive_path)
        _mark("quality", "RUNNING", {"score": score})
        if not stages.quality_gate(score, config):
            return _finish("quality", "FAILED", {"score": score},
                           quality_score=score,
                           failure_reason="Data quality score below threshold")
        if _sla_breached():
            return _sla_fail("quality")

        # Processed-tier partitioned sink (Firehose contract py:194-212);
        # the sink job itself counts the rows it writes.
        stage = "sink"
        sunk = Observation()
        writers.write_partitioned_parquet(
            stages.transform(valid, ts_col=ts_col, dims=dims)
            .observe(sunk, F.count(F.lit(1)).alias("rows")),
            processed_path, ts_col=ts_col, config=config)
        n_out = sunk.get["rows"]
        return _finish("sink", "SUCCEEDED", {"rows": n_out, "score": score},
                       quality_score=score,
                       counts={"processed": n_out, "invalid": n_invalid})
    except Exception as exc:
        # a raising stage still ends the trail (FAILED, not RUNNING
        # forever), and so does a failed terminal commit (retried once
        # here); if this commit fails too, exc stays its __context__
        state.append(pid, stage, "FAILED", _timed(
            {"reason": "exception",
             "error": f"{type(exc).__name__}: {str(exc)[:500]}"}),
            earlier=trail)
        raise
    finally:
        if batch is not None:
            batch.unpersist()
