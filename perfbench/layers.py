"""Per-layer metrics of the traced run, and which end-to-end metric each
one is expected to move on which workload.

Every workload reports every per-layer metric; a layer a workload does
not exercise reads 0 there, which is the point of running both kinds of
workload. Seconds, calls, jobs and bytes are per measured operation (a
landing batch, a curation call, a maintenance tick); ``query.*`` are per
read-back query. Resource counts of a span include its child spans;
``self_s`` excludes them.
"""

from __future__ import annotations

import functools
import statistics

import spans as trace

# per-layer metric -> (end-to-end metric it should move, workload where
# that layer does most of the work). Units and better-directions are in
# BENCHMARK.json. "<span>.<measure>" metrics are read from the span of
# that name (see MEASURES); the others are computed in ``compute``.
LAYERS = {
    "session.get_spark.s": ("setup_s", "all"),
    # input bytes read (files and cached blocks) per landing byte
    "sources.readers.input_scans": ("op_p50_s", "etl_landing"),
    "plans.pipeline.run_pipeline.s": ("op_p50_s", "etl_landing"),
    "plans.pipeline.run_pipeline.self_s": ("op_p50_s", "etl_landing"),
    "plans.pipeline.run_pipeline.jobs": ("op_p50_s", "etl_landing"),
    "plans.state.StateTable.append.calls": ("op_p50_s", "etl_landing"),
    "plans.state.StateTable.append.s": ("op_p50_s", "etl_landing"),
    "plans.state.StateTable.current.s": ("query_set_p50_s", "etl_landing"),
    "plans.state.files": ("query_set_p50_s", "etl_landing"),
    "operators.stages.quality_score.s": ("op_p50_s", "etl_landing"),
    "sources.writers.write_partitioned_parquet.s": ("op_p50_s", "etl_landing"),
    "sources.writers.write_partitioned_parquet.files":
        ("query_set_p50_s", "etl_landing"),
    "sources.writers.write_partitioned_parquet.bytes":
        ("bytes_stored_per_input_byte", "etl_landing"),
    "sources.writers.write_archive.s": ("op_p50_s", "etl_landing"),
    "sources.writers.write_quarantine.s": ("op_p50_s", "etl_landing"),
    "query.plan_s": ("query_set_p50_s", "etl_landing"),
    "query.exec_s": ("query_set_p50_s", "etl_landing"),
    "query.bytes_read": ("query_set_p50_s", "etl_landing"),
    "plans.corpus_pipeline.prepare_training_corpus.s":
        ("op_p50_s", "corpus_landing"),
    "plans.corpus_pipeline.prepare_training_corpus.self_s":
        ("op_p50_s", "corpus_landing"),
    "plans.corpus_pipeline.prepare_training_corpus.jobs":
        ("op_p50_s", "corpus_landing"),
    "plans.corpus_pipeline.prepare_training_corpus.shuffle_bytes":
        ("op_p50_s", "corpus_landing"),
    "plans.corpus_pipeline.prepare_training_corpus.spill_bytes":
        ("op_p50_s", "corpus_landing"),
    "plans.corpus_pipeline.prepare_training_corpus.skew":
        ("op_p50_s", "corpus_landing"),
    # input bytes read (files and cached blocks) per crawl input byte
    "plans.corpus_pipeline.input_scans": ("op_p50_s", "corpus_landing"),
    "plans.corpus_pipeline.sink.s": ("op_p50_s", "corpus_landing"),
    # minhash_lsh_pairs, decontaminate and language_id return a lazy plan
    # and run no job of their own: the metric is their plan construction,
    # and their work is part of prepare_training_corpus.self_s (its counts
    # materialise it)
    "operators.dedup.minhash_lsh_pairs.plan_s":
        ("op_p50_s", "corpus_landing"),
    "operators.dedup.dedupe_by_components.s":
        ("op_p50_s", "corpus_landing"),
    "operators.dedup.dedupe_by_components.jobs":
        ("op_p50_s", "corpus_landing"),
    "operators.dedup.dedupe_by_components.shuffle_bytes":
        ("op_p50_s", "corpus_landing"),
    "operators.dedup.semantic_dedup.s": ("op_p50_s", "corpus_landing"),
    "operators.similarity.train_ivf_centroids.s":
        ("op_p50_s", "corpus_landing"),
    "operators.corpus.passage_dedup.s": ("op_p50_s", "corpus_landing"),
    "operators.corpus.passage_dedup.shuffle_bytes":
        ("op_p50_s", "corpus_landing"),
    "operators.corpus.decontaminate.plan_s":
        ("op_p50_s", "corpus_landing"),
    "operators.text.language_id.plan_s":
        ("op_p50_s", "corpus_landing"),
    "plans.scheduler.tick_overhead_s": ("op_p50_s", "corpus_landing"),
    # the whole maintenance tick; its self time is the index probe, the
    # within-batch components and the verdict log, which run at the
    # tick's checkpoint and writes, outside the wrapped calls
    "plans.scheduler.tick.s": ("op_p50_s", "corpus_landing"),
    "plans.scheduler.tick.self_s": ("op_p50_s", "corpus_landing"),
    "operators.incremental.incremental_dedup.s":
        ("op_p50_s", "corpus_landing"),
    "operators.incremental.incremental_dedup.bytes_read":
        ("op_p50_s", "corpus_landing"),
    "operators.incremental.commit_batch.s": ("op_p50_s", "corpus_landing"),
    "operators.incremental.index_files": ("op_p50_s", "corpus_landing"),
    "sources.writers.merge_upsert.s": ("op_p50_s", "corpus_landing"),
    "sources.writers.merge_upsert.bytes_written":
        ("bytes_stored_per_input_byte", "corpus_landing"),
    # rows the whole-table merge rewrites per surviving row it adds
    "sources.writers.merge_upsert.write_amp": ("op_p50_s", "corpus_landing"),
    "operators.incremental.drop.exact_index":
        ("reject_recall", "corpus_landing"),
    "operators.incremental.drop.exact_batch":
        ("reject_recall", "corpus_landing"),
    "operators.incremental.drop.neardup_index":
        ("reject_recall", "corpus_landing"),
    "operators.incremental.drop.neardup_batch":
        ("reject_recall", "corpus_landing"),
    "spark.jobs": ("op_p50_s", "all"),
    "spark.core_busy_frac": ("op_p50_s", "all"),
    "spark.gc_s": ("op_p50_s", "all"),
    "spark.failed_tasks": ("op_p50_s", "all"),
    "trace.op_p50_s": ("op_p50_s", "all"),
    "trace.span_overhead_s": ("op_p50_s", "all"),
}

# how each span measure is read from a span's roll-up; ``plan_s`` is the
# span time of a function that only builds a lazy plan
MEASURES = ("s", "plan_s", "self_s", "calls", "jobs", "shuffle_bytes",
            "spill_bytes", "skew", "bytes", "bytes_read", "bytes_written")


def install(tracer) -> None:
    """Wrap the package's public functions with spans. Functions that
    a module imported by name are patched where they are looked up."""
    from serverless_data_pipeline_spark.operators import (
        corpus, dedup, incremental, similarity, stages,
    )
    from serverless_data_pipeline_spark.plans import (
        corpus_pipeline, pipeline, scheduler,
    )
    from serverless_data_pipeline_spark.plans.state import StateTable
    from serverless_data_pipeline_spark.sources import writers

    for owner, attr, name in [
        (pipeline, "run_pipeline", "plans.pipeline.run_pipeline"),
        (StateTable, "append", "plans.state.StateTable.append"),
        (stages, "quality_score", "operators.stages.quality_score"),
        (writers, "write_partitioned_parquet",
         "sources.writers.write_partitioned_parquet"),
        (writers, "write_archive", "sources.writers.write_archive"),
        (writers, "write_quarantine", "sources.writers.write_quarantine"),
        (writers, "merge_upsert", "sources.writers.merge_upsert"),
        (corpus_pipeline, "prepare_training_corpus",
         "plans.corpus_pipeline.prepare_training_corpus"),
        (corpus_pipeline, "minhash_lsh_pairs",
         "operators.dedup.minhash_lsh_pairs"),
        (corpus_pipeline, "dedupe_by_components",
         "operators.dedup.dedupe_by_components"),
        (corpus_pipeline, "language_id", "operators.text.language_id"),
        (dedup, "semantic_dedup", "operators.dedup.semantic_dedup"),
        (similarity, "train_ivf_centroids",
         "operators.similarity.train_ivf_centroids"),
        (corpus, "passage_dedup", "operators.corpus.passage_dedup"),
        (corpus, "decontaminate", "operators.corpus.decontaminate"),
        (incremental, "incremental_dedup",
         "operators.incremental.incremental_dedup"),
        (incremental, "commit_batch", "operators.incremental.commit_batch"),
        (incremental, "minhash_lsh_pairs",
         "operators.dedup.minhash_lsh_pairs"),
    ]:
        tracer.wrap(owner, attr, name)

    # A maintenance tick is a callback the streaming engine runs; the
    # index probe and the within-batch components that incremental_dedup
    # only plans run at the tick's checkpoint, so the tick gets a span.
    query = scheduler.scheduled_batch_query

    @functools.wraps(query)
    def traced_query(spark, raw_path, schema, run_batch, *args, **kwargs):
        def tick(batch_df, tick_id):
            with tracer.span("plans.scheduler.tick"):
                return run_batch(batch_df, tick_id)
        return query(spark, raw_path, schema, tick, *args, **kwargs)
    scheduler.scheduled_batch_query = traced_query


def compute(tracer, per_span: dict, sids: range, overhead_s: float,
            workload, session_s: float, op_s: list, cores: int) -> dict:
    """Per-layer metrics from the spans with ids in ``sids`` (the measured
    operations of the run, whose span bookkeeping took ``overhead_s``)
    and their event-log roll-up."""
    from workloads import parquet_files

    spans = {i: tracer.spans[i] for i in sids if "end" in tracer.spans[i]}
    selfs = trace.self_times(spans)
    n = max(1, len(op_s))
    out = {k: 0.0 for k in LAYERS}

    def outermost(name):
        return [s for s in spans.values() if s["name"] == name
                and not _has_ancestor(spans, s, name)]

    def tot(roots):
        return trace.totals(per_span, trace.subtree(
            spans, {s["id"] for s in roots}))

    for key in LAYERS:
        name, m = key.rsplit(".", 1)
        if m not in MEASURES:
            continue
        hits = outermost(name)
        t = tot(hits)
        vals = {"s": sum(s["end"] - s["start"] for s in hits) / n,
                "self_s": sum(selfs[s["id"]] for s in spans.values()
                              if s["name"] == name) / n,
                "calls": sum(s["name"] == name for s in spans.values()) / n,
                "jobs": t["jobs"] / n,
                "shuffle_bytes": t["shuffle_write"] / n,
                "spill_bytes": t["spill"] / n,
                "skew": t["skew"],
                "bytes": t["output_bytes"] / n,
                "bytes_read": t["input_bytes"] / n,
                "bytes_written": t["output_bytes"] / n}
        vals["plan_s"] = vals["s"]
        out[key] = vals[m]

    ops = outermost("op")
    op_tot = tot(ops)
    queries = outermost("query")
    nq = max(1, len(queries))
    for part in ("plan", "exec"):
        out[f"query.{part}_s"] = sum(
            s["end"] - s["start"] for s in outermost(f"query.{part}")) / nq
    out["query.bytes_read"] = tot(queries)["input_bytes"] / nq
    out["session.get_spark.s"] = session_s

    name = workload.name
    if name == "etl_landing":
        out["sources.readers.input_scans"] = (op_tot["input_bytes"]
                                              / max(1, workload.landed_bytes))
        out["plans.state.files"] = parquet_files(workload.state.path)
        out["sources.writers.write_partitioned_parquet.files"] = (
            parquet_files(workload.processed) / n)
    elif name == "corpus_landing":
        days = workload.truth["days"][:workload.next_day]
        out["plans.corpus_pipeline.input_scans"] = (
            op_tot["input_bytes"] / max(1, sum(d["input_bytes"]
                                               for d in days)))
        ticks = workload.ticks
        if ticks:
            out["plans.scheduler.tick_overhead_s"] = statistics.median(
                (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000
                for d in ticks)
        out["operators.incremental.index_files"] = parquet_files(
            workload.index)
        merged = tot(outermost("sources.writers.merge_upsert"))
        out["sources.writers.merge_upsert.write_amp"] = (
            merged["output_records"] / max(1, workload.survived))
        for reason, c in workload.drops.items():
            out[f"operators.incremental.drop.{reason}"] = c / n

    wall = sum(s["end"] - s["start"] for s in ops)
    out["spark.jobs"] = op_tot["jobs"] / n
    out["spark.core_busy_frac"] = (op_tot["run_ms"] / 1000
                                   / max(1e-9, wall * cores))
    out["spark.gc_s"] = op_tot["gc_ms"] / 1000 / n
    out["spark.failed_tasks"] = op_tot["failed_tasks"]
    out["trace.op_p50_s"] = statistics.median(op_s) if op_s else 0.0
    out["trace.span_overhead_s"] = overhead_s / n
    return out


def _has_ancestor(spans: dict, s: dict, name: str) -> bool:
    p = s["parent"]
    while p is not None and p in spans:
        if spans[p]["name"] == name:
            return True
        p = spans[p]["parent"]
    return False
