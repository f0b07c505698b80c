"""EP1 — the batch pipeline driver (SURVEY §3 EP1).

Re-expresses the reference's Step Functions state machine
(DataPipelineStateMachine, py:424-436) as one driver function. The managed
control flow collapses to plain Python:

    ValidateData (py:342-350)    -> stages.validate
    ValidationChoice (py:404-408)-> if result.is_valid()
    TransformData (py:352-360)   -> stages.transform
    QualityCheck (py:362-370)    -> stages.quality_score
    QualityChoice (py:411-418)   -> if score > threshold
    ErrorHandler (py:393-401)    -> quarantine write + FAILED state row
    Succeed/Fail (py:414-417)    -> PipelineResult.status

Every arrow in the reference crosses a Lambda/process boundary; here the
only real boundaries are shuffles (none in the stage chain — it is
narrow-only) and the final partitioned sink commit.
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
    valid = invalid = transformed = None
    try:
        ingested = stages.ingest(df, source=source)
        stage = "validate"

        # ValidateData -> ValidationChoice (py:404-408). Both split frames
        # are consumed more than once (count + write) — cache so the input
        # is scanned once, not re-executed per action (at 100 TB each
        # re-execution re-reads the source).
        vres = stages.validate(ingested, required, checks)
        valid = vres.valid.cache()
        invalid = vres.invalid.cache()
        n_invalid = invalid.count()
        _mark("validate", "RUNNING", {"invalid_rows": n_invalid})
        if n_invalid:
            writers.write_quarantine(invalid, error_path, "validation_failed")
        if valid.isEmpty():
            # whole batch invalid -> ErrorHandler path (py:393-401)
            return _finish("validate", "FAILED", {"invalid_rows": n_invalid},
                           failure_reason="validation_failed",
                           counts={"invalid": n_invalid})
        if _sla_breached():
            return _sla_fail("validate")

        # TransformData (py:352-360): clean/enrich/convert + archive branch
        stage = "quality"
        transformed = stages.transform(valid, ts_col=ts_col, dims=dims).cache()
        writers.write_archive(valid, archive_path)

        # QualityCheck -> QualityChoice (py:411-418): per-batch scalar over
        # the full transformed batch + soft rules.
        score = stages.quality_score(transformed, rules=quality_rules)
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
            transformed.observe(sunk, F.count(F.lit(1)).alias("rows")),
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
        for frame in (valid, invalid, transformed):
            if frame is not None:
                frame.unpersist()
