"""EP2 — control plane (SURVEY §3 EP2).

The reference exposes REST routes GET|POST /pipelines and
GET|PUT|DELETE /pipelines/{pipeline_id} through API Gateway into a proxy
Lambda holding STATE_MACHINE_ARN + PIPELINE_STATE_TABLE (py:457-489,
md:169-190). The capability is run-tracking, not HTTP — so this is a thin
Python facade over the state table; bind any web framework on top."""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_data_pipeline_spark.plans.state import (
    StateTable, new_pipeline_id,
)


class PipelineControl:
    def __init__(self, state: StateTable):
        self.state = state

    def start_pipeline(self, *, source: str = "api",
                       data_type: str = "json", priority: str = "normal",
                       metadata: dict | None = None) -> str:
        """POST /pipelines (md:169-181) — register a run and return its
        id. Mirrors the API body shape {source, data_type, priority,
        metadata{...}} (md:172-180); the proxy Lambda's StartExecution
        grant (py:488) maps to the caller then invoking
        plans.pipeline.run_pipeline(batch, ..., pipeline_id=<this id>),
        so the run's stage rows extend this id's trail. The SUBMITTED
        marker lands before any stage so the run is visible to
        list_pipelines immediately, as the reference's state table is —
        and it is the only in-flight signal: run_pipeline commits its
        stage rows together when the run ends."""
        pid = new_pipeline_id()
        self.state.append(pid, "control", "SUBMITTED", {
            "source": source, "data_type": data_type,
            "priority": priority, **(metadata or {})})
        return pid

    def update_pipeline(self, pipeline_id: str, **fields) -> None:
        """PUT /pipelines/{id} (py:483) — append an UPDATED marker
        carrying the changed fields (priority, metadata...). Append-only:
        the audit trail keeps every revision, current() reads the
        latest."""
        self.state.append(pipeline_id, "control", "UPDATED", fields)

    def list_pipelines(self, status: str | None = None) -> list[dict]:
        """GET /pipelines (md:183-186)."""
        cur = self.state.current()
        if status:
            cur = cur.filter(F.col("status") == status)
        return [r.asDict() for r in cur.orderBy("timestamp").collect()]

    def get_pipeline(self, pipeline_id: str) -> list[dict]:
        """GET /pipelines/{id} (md:188-190) — full stage history."""
        return [r.asDict() for r in
                self.state.history(pipeline_id).orderBy("timestamp").collect()]

    def cancel_pipeline(self, pipeline_id: str) -> None:
        """DELETE /pipelines/{id} — append a CANCELLED marker. It is an
        audit marker only: run_pipeline does not poll the state table,
        so a run in flight still runs to its end and commits its trail
        (a per-stage poll would cost a Spark job per stage).
        Append-only keeps the audit trail."""
        self.state.append(pipeline_id, "control", "CANCELLED", {})
