"""The workloads. Each drives the package's public drivers from
generated landing files to committed output, checks that output against
the planted truth and against DuckDB over the same committed Parquet,
and reports per-operation samples.

A workload is set up with ``generate`` (seeded inputs) and ``warm_up``
(for ``etl_landing`` a batch through the same code path, so the JVM,
the Python workers and Spark's code generation are warm before timing; for ``corpus_landing`` the corpus bootstrap). ``step`` then runs
one unit of measured work; ``run.py`` calls it ``--seconds / STEP_S``
times.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from serverless_data_pipeline_spark.plans import corpus_pipeline
from serverless_data_pipeline_spark.plans import pipeline as pipeline_mod
from serverless_data_pipeline_spark.plans.state import StateTable
from serverless_data_pipeline_spark.operators import incremental
from serverless_data_pipeline_spark.sources import readers, writers

import gen

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])
REQUIRED = {"event_id": T.LongType(), "ts": T.TimestampType(),
            "user_id": T.LongType()}
DOCS_SCHEMA = "doc_id long, text string, source string"
LANDING_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("text", T.StringType()),
                               T.StructField("source", T.StringType())])


@dataclass
class Step:
    """One measured operation (a landing batch, or one day's curation and
    maintenance tick): its latency, the latencies of the read-back queries
    after it, and its failed output checks."""

    op_s: float = 0.0
    query_s: list = field(default_factory=list)
    # totals of the untraced repeat passes of the query set
    query_sets: list = field(default_factory=list)
    problems: list = field(default_factory=list)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet")
               for _, _, files in os.walk(path) for f in files)


def json_ids(path: str) -> list[int]:
    """``event_id`` of each row of a Spark JSON output directory (one
    object per line). A malformed landing line keeps only its raw text in
    ``_corrupt_record``; its id is read from that text."""
    ids = []
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith("part-"):
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    row = json.loads(line)
                    if "event_id" in row:
                        ids.append(row["event_id"])
                    else:
                        m = re.search(r'"event_id": (\d+)',
                                      row.get("_corrupt_record", ""))
                        ids.append(int(m.group(1)) if m else None)
    return ids


def same_rows(a: list, b: list) -> bool:
    """Order-insensitive equality of two result sets; floats compare
    with a relative tolerance (summation order differs by engine)."""
    if len(a) != len(b):
        return False
    key = lambda r: tuple(repr(x) if not isinstance(x, float) else ""
                          for x in r)
    for ra, rb in zip(sorted(map(tuple, a), key=key),
                      sorted(map(tuple, b), key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def doc_fingerprint(text: str) -> str:
    """The package's exact-dup fingerprint, recomputed outside Spark."""
    return hashlib.md5(re.sub(r"\s+", " ", text.strip()).lower()
                       .encode()).hexdigest()


def batch_problems(b: dict, status: str, processed: list,
                   quarantined: list, corrupt: list) -> list[str]:
    """Checks of one landing batch against its planted truth, by row id:
    the low-quality batch FAILS and reaches nothing of the processed tier;
    every other batch SUCCEEDS and its processed tier holds exactly the
    good rows; the quarantine holds exactly the planted bad rows and the
    corrupt prefix exactly the malformed lines, each once."""
    name = os.path.basename(b["path"])
    out = []
    want = "FAILED" if b["low_quality"] else "SUCCEEDED"
    if status != want:
        out.append(f"{name}: status {status} != {want}")
    for what, got, ids in (
            ("processed", processed,
             [] if b["low_quality"] else b["good_ids"]),
            ("quarantined", quarantined, b["bad_ids"]),
            ("corrupt", corrupt, b["corrupt_ids"])):
        if sorted(got, key=str) != sorted(ids, key=str):
            extra, missing = set(got) - set(ids), set(ids) - set(got)
            out.append(f"{name}: {what} has {len(got)} rows, want "
                       f"{len(ids)} ({len(extra)} unexpected, "
                       f"{len(missing)} missing)")
    return out


def curation_problems(rows: list, stats: list, truth: dict) -> list[str]:
    """Checks of one committed curation output: survivor ids are unique,
    no two survivors share a fingerprint, no planted-contaminated doc
    survives, and ``stats`` agrees with the survivors."""
    out = []
    ids = [r[0] for r in rows]
    if len(set(ids)) != len(ids):
        out.append("duplicate survivor ids")
    fps = [doc_fingerprint(r[1]) for r in rows]
    if len(set(fps)) != len(fps):
        out.append("survivors share a fingerprint")
    leaked = set(ids) & set(truth["contaminated"])
    if leaked:
        out.append(f"{len(leaked)} contaminated docs survive")
    n_tok = sum(len(r[1].split()) for r in rows)
    if stats != [(len(rows), n_tok)]:
        out.append(f"stats {stats} != {[(len(rows), n_tok)]}")
    return out


def redelivery_problems(verdicts: dict, delivered: set,
                        first_survivors: set) -> list[str]:
    """A re-delivered file merges no row (each of its rows gets a drop
    reason) and drops every doc that survived its first delivery as
    ``exact_index``."""
    missing = len(delivered - set(verdicts))
    merged = sum(verdicts.get(d, "") is None for d in delivered)
    wrong = sum(verdicts.get(d) != "exact_index" for d in first_survivors)
    if missing or merged or wrong:
        return [f"re-delivery: {missing} rows without a verdict, {merged} "
                f"rows merged, {wrong} first-delivery survivors not "
                f"exact_index"]
    return []


class Workload:
    """Shared plumbing: the timed read-back query set and its DuckDB
    cross-check."""

    name = ""
    # nominal seconds per operation on a 4-core host: a run measures
    # round(--seconds / STEP_S) operations, at least one
    STEP_S = 1.0
    # passes of the read-back query set after each operation; the first
    # is checked, the rest only timed
    QUERY_PASSES = 1

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.duck = duckdb.connect()
        self.query_set: list[str] = []
        # failed checks of set-up work (warm-up, bootstrap)
        self.warm_problems: list[str] = []

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def timed_query(self, step: Step, spark_sql: str, duck_sql: str,
                    label: str) -> list:
        """Run ``spark_sql`` (timed: plan + execute + collect) and the same
        query in DuckDB over the same files; a mismatch is a problem."""
        t0 = time.perf_counter()
        with self.span("query"):
            with self.span("query.plan"):
                df = self.spark.sql(spark_sql)
            with self.span("query.exec"):
                rows = [tuple(r) for r in df.collect()]
        step.query_s.append(time.perf_counter() - t0)
        self.query_set.append(spark_sql)
        ref = self.duck.execute(duck_sql).fetchall()
        if not same_rows(rows, ref):
            step.problems.append(
                f"{label}: spark {len(rows)} rows != duckdb {len(ref)}")
        return rows

    def repeat_query_set(self, step: Step) -> None:
        """Time the operation's query set ``QUERY_PASSES - 1`` more times;
        the first pass checked the results."""
        for _ in range(self.QUERY_PASSES - 1):
            t0 = time.perf_counter()
            for q in self.query_set:
                self.spark.sql(q).collect()
            step.query_sets.append(time.perf_counter() - t0)
        self.query_set = []

    def close(self) -> None:
        self.duck.close()


# ---------------------------------------------------------------- etl

class EtlLanding(Workload):
    """Landing batches through read → corrupt split → quarantine →
    ``run_pipeline``, then an Athena-style query set over the processed
    tier and a read of the state table."""

    name = "etl_landing"
    ROWS = 2000
    BATCHES = 12
    # a batch with its read-back queries and checks
    STEP_S = 6.5

    def generate(self, root: str) -> None:
        self.truth = gen.etl_batches(root, self.seed, self.BATCHES,
                                     self.ROWS, low_quality_batch=-1)

    def _open(self, out: str, truth: dict) -> None:
        self.out = out
        self.processed = os.path.join(out, "processed")
        self.state = StateTable(self.spark, os.path.join(out, "state"))
        self.dim = self.spark.read.json(
            truth["dim_path"],
            schema="event_type string, category string, weight double")
        self.spark.read.json(
            truth["versions_path"],
            schema="event_type string, version long, valid_from long, "
                   "valid_to long").createOrReplaceTempView("dim_versions")
        self.versions_path = truth["versions_path"]
        self.next_batch = 0
        self.days: list[int] = []
        self.landed_bytes = 0
        self.bad_planted = self.bad_removed = 0
        self.good_planted = self.good_kept = 0

    def warm_up(self) -> None:
        """One batch through the whole path: the planted low-quality
        batch, so the measured batches all pass the gate and time the same
        path. The first measured batch still runs 10-30% slower than the
        next; a second warm-up batch did not remove that and cost the run
        a measured batch, which spread the runs wider."""
        root = os.path.join(self.work, "warm_in")
        truth = gen.etl_batches(root, self.seed + 1, 1, self.ROWS,
                                low_quality_batch=0)
        self._open(os.path.join(self.work, "warm_out"), truth)
        for b in truth["batches"]:
            st = Step()
            self._batch(b, st)
            self.warm_problems += st.problems
        self._open(os.path.join(self.work, "out"), self.truth)

    def step(self) -> Step | None:
        if self.next_batch >= len(self.truth["batches"]):
            return None
        b = self.truth["batches"][self.next_batch]
        self.next_batch += 1
        st = Step()
        self._batch(b, st)
        return st

    def _batch(self, b: dict, st: Step) -> None:
        i = b["index"]
        err = os.path.join(self.out, "errors", f"batch-{i:03d}")
        corrupt = os.path.join(self.out, "corrupt", f"batch-{i:03d}")
        t0 = time.perf_counter()
        with self.span("op"):
            raw = readers.read_json_raw(self.spark, b["path"], EVENTS_SCHEMA)
            good, bad = readers.split_corrupt(raw)
            writers.write_quarantine(bad, corrupt, "malformed_json")
            res = pipeline_mod.run_pipeline(
                good, processed_path=self.processed,
                archive_path=os.path.join(self.out, "archive"),
                error_path=err, state=self.state, required=REQUIRED,
                checks=[F.col("value") >= 0],
                quality_rules=[F.col("event_type").isNotNull(),
                               F.col("value") < 10_000],
                dims={"event_type": (self.dim, ["event_type"])})
            raw.unpersist()
        st.op_s = time.perf_counter() - t0
        self.landed_bytes += b["bytes"]

        if res.status == "SUCCEEDED":
            self.days.append(i + 1)
        self._queries(st, res.pipeline_id, res.status)

        lo, hi = i * 1_000_000, (i + 1) * 1_000_000
        processed = []
        if os.path.isdir(self.processed):
            processed = [r[0] for r in self.duck.execute(
                f"SELECT event_id FROM read_parquet('{self.processed}/**/"
                f"*.parquet', hive_partitioning=true) WHERE event_id >= {lo}"
                f" AND event_id < {hi}").fetchall()]
        quarantined, corrupted = json_ids(err), json_ids(corrupt)
        st.problems += batch_problems(b, res.status, processed, quarantined,
                                      corrupted)
        bad = set(b["bad_ids"]) | set(b["corrupt_ids"])
        self.bad_planted += len(bad)
        self.bad_removed += len(bad & set(quarantined + corrupted))
        if not b["low_quality"]:
            self.good_planted += len(b["good_ids"])
            self.good_kept += len(set(b["good_ids"]) & set(processed))

    def _queries(self, st: Step, pid: str, status: str) -> None:
        with self.span("query"), self.span("plans.state.StateTable.current"):
            t0 = time.perf_counter()
            cur = (self.state.current()
                   .filter(F.col("pipeline_id") == pid).collect())
            st.query_s.append(time.perf_counter() - t0)
        if [r.status for r in cur] != [status]:
            st.problems.append(f"state current {cur} != {status}")
        if not self.days:
            return
        day = self.days[-1]
        p = self.processed
        sp = f"parquet.`{p}`"
        dp = f"read_parquet('{p}/**/*.parquet', hive_partitioning=true)"
        self.timed_query(
            st,
            f"SELECT hour, event_type, count(*), round(sum(value), 4) "
            f"FROM {sp} WHERE year = 2024 AND month = 1 AND day = {day} "
            f"GROUP BY hour, event_type",
            f"SELECT hour::INT, event_type, count(*), round(sum(value), 4) "
            f"FROM {dp} WHERE year = 2024 AND month = 1 AND day = {day} "
            f"GROUP BY ALL", "hourly")
        self.timed_query(
            st,
            f"SELECT user_id, event_id FROM (SELECT user_id, event_id, "
            f"row_number() OVER (PARTITION BY user_id ORDER BY value DESC, "
            f"event_id) AS rn FROM {sp}) WHERE rn <= 3",
            f"SELECT user_id, event_id FROM (SELECT user_id, event_id, "
            f"row_number() OVER (PARTITION BY user_id ORDER BY value DESC, "
            f"event_id) AS rn FROM {dp}) WHERE rn <= 3", "topk")
        self.timed_query(
            st,
            f"SELECT user_id, event_id FROM (SELECT user_id, event_id, "
            f"row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, "
            f"event_id DESC) AS rn FROM {sp}) WHERE rn = 1",
            f"SELECT user_id, event_id FROM (SELECT user_id, event_id, "
            f"row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, "
            f"event_id DESC) AS rn FROM {dp}) WHERE rn = 1", "latest")
        self.timed_query(
            st,
            f"SELECT d.event_type, d.version, count(*) FROM {sp} e "
            f"JOIN dim_versions d ON e.event_type = d.event_type "
            f"AND unix_timestamp(e.ts) >= d.valid_from "
            f"AND unix_timestamp(e.ts) < d.valid_to "
            f"GROUP BY d.event_type, d.version",
            f"SELECT d.event_type, d.version, count(*) FROM {dp} e "
            f"JOIN read_json('{self.versions_path}', columns={{"
            f"'event_type': 'VARCHAR', 'version': 'BIGINT', "
            f"'valid_from': 'BIGINT', 'valid_to': 'BIGINT'}}) d "
            f"ON e.event_type = d.event_type "
            f"AND epoch(e.ts) >= d.valid_from AND epoch(e.ts) < d.valid_to "
            f"GROUP BY ALL", "asof")
        self.repeat_query_set(st)

    def summary(self) -> dict:
        return {"bytes_stored_per_input_byte":
                dir_bytes(self.out) / max(1, self.landed_bytes),
                "reject_recall": self.bad_removed / max(1, self.bad_planted),
                "keep_rate": self.good_kept / max(1, self.good_planted)}


# --------------------------------------------------------- corpus landing

class CorpusLanding(Workload):
    """A daily crawl landing, curated by ``prepare_training_corpus`` with
    every stage on, committed as Parquet, then landed for
    ``maintenance_stream``, whose tick probes the persisted index and
    merges the survivors into the corpus."""

    name = "corpus_landing"
    BASE = 300
    # A day takes 25-45 s, so a run measures one; the spare day is for
    # runs with a longer --seconds.
    STEP_S = 35.0
    # one day per run: a single 1.5 s pass moved with every hiccup of the
    # host
    QUERY_PASSES = 3
    DAYS = 2
    UNIQUE = 250
    FAMILIES = 60
    CROSS = 40
    PASSAGE_K = 12

    def generate(self, root: str) -> None:
        base = gen.corpus_base(root, self.seed, self.BASE)
        days = [gen.corpus_day(root, self.seed, d, base["tokens"],
                               self.UNIQUE, self.FAMILIES, self.CROSS,
                               passage_k=self.PASSAGE_K)
                for d in range(2, 2 + self.DAYS)]
        self.truth = {"base": base, "days": days}

    def warm_up(self) -> None:
        """Bootstrap the corpus from the base landing (the first tick of
        the maintenance stream). Curation is not warmed: a daily job
        starts in a fresh driver, so the measured day is the driver's
        first curation in every run."""
        out = os.path.join(self.work, "out")
        self.out = out
        self.landing = os.path.join(out, "landing")
        self.corpus = os.path.join(out, "corpus")
        self.index = os.path.join(out, "index")
        self.verdicts = os.path.join(out, "verdicts")
        self.checkpoint = os.path.join(out, "checkpoint")
        os.makedirs(self.landing)
        base = self.truth["base"]
        (self.spark.read.json(base["path"], schema=DOCS_SCHEMA)
         .write.parquet(os.path.join(out, "base")))
        self._land(os.path.join(out, "base"), "day-000")
        self._drain()
        # gen.corpus_base numbers the base docs 0..BASE-1
        self.base_ids = set(range(self.BASE))
        self.base_survivors = {r[0] for r in self.duck.execute(
            f"SELECT doc_id FROM read_parquet('{self.corpus}/*.parquet')"
        ).fetchall()}
        self.expect_corpus = len(self.base_survivors)
        self.seen_ticks = 1
        self.landed_bytes = base["bytes"]
        self.next_day = 0
        self.ticks: list[dict] = []
        self.planted = self.removed = self.unique = self.kept = 0
        self.drops = {r: 0 for r in incremental.DROP_REASONS}
        self.survived = 0

    def _land(self, src_dir: str, prefix: str) -> None:
        """Move a committed Parquet directory's part files into the
        landing directory (a rename each, so the stream never sees a
        partial file)."""
        for f in sorted(os.listdir(src_dir)):
            if f.startswith("part-") and f.endswith(".parquet"):
                shutil.copyfile(os.path.join(src_dir, f),
                                os.path.join(self.out, "tmp.parquet"))
                os.replace(os.path.join(self.out, "tmp.parquet"),
                           os.path.join(self.landing, f"{prefix}-{f}"))

    def _drain(self) -> list:
        """One available-now maintenance query over what has landed;
        returns the progress of the ticks that consumed input."""
        q = incremental.maintenance_stream(
            self.spark, self.landing, LANDING_SCHEMA, self.corpus,
            self.index, self.checkpoint, fmt="parquet", probe="minhash",
            verdict_path=self.verdicts, available_now=True)
        try:
            q.awaitTermination(150)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        finally:
            q.stop()
        return progress

    def _tick_verdicts(self) -> dict:
        """doc_id -> drop_reason of the ticks not yet checked."""
        rows = self.duck.execute(
            f"SELECT tick_id, doc_id, drop_reason FROM read_parquet("
            f"'{self.verdicts}/*.parquet') WHERE tick_id >= "
            f"{self.seen_ticks}").fetchall()
        self.seen_ticks = max((r[0] for r in rows),
                              default=self.seen_ticks - 1) + 1
        return {doc: reason for _, doc, reason in rows}

    def step(self) -> Step | None:
        if self.next_day >= len(self.truth["days"]):
            return None
        truth = self.truth["days"][self.next_day]
        self.next_day += 1
        st = Step()
        self._day(truth, st)
        return st

    def _day(self, truth: dict, st: Step) -> None:
        """Curate, commit and maintain one day. The day's landing also
        re-delivers the bootstrap's file, so its tick probes the index
        with rows that are all already in it."""
        day = truth["day"]
        clean_p = os.path.join(self.out, f"clean-{day:03d}")
        stats_p = os.path.join(self.out, f"stats-{day:03d}")
        paths = truth["paths"]
        t0 = time.perf_counter()
        with self.span("op"):
            rd = self.spark.read
            docs = rd.json(paths["docs"], schema=DOCS_SCHEMA)
            emb = rd.json(paths["emb"],
                          schema="doc_id long, embedding array<float>")
            ev = rd.json(paths["eval"], schema="doc_id long, text string")
            res = corpus_pipeline.prepare_training_corpus(
                docs, exact_clusters=True, passage_k=self.PASSAGE_K,
                embeddings=emb, semantic_dim=32, max_dup_ngram_ratio=0.2,
                eval_docs=ev)
            with self.span("plans.corpus_pipeline.sink"):
                res.clean.write.parquet(clean_p)
                res.stats.write.parquet(stats_p)
            res.unpersist()
            self._land(clean_p, f"day-{day:03d}")
            self._land(os.path.join(self.out, "base"), f"again-{day:03d}")
            progress = self._drain()
        st.op_s = time.perf_counter() - t0
        self.landed_bytes += truth["bytes"]
        self.ticks += [p.durationMs for p in progress]
        if len(progress) != 1:
            st.problems.append(f"day {day}: {len(progress)} ticks, want 1")
        self._check(truth, clean_p, stats_p, st)

    def _check(self, truth: dict, clean_p: str, stats_p: str,
               st: Step) -> None:
        cp = f"read_parquet('{clean_p}/*.parquet')"
        rows = self.timed_query(
            st, f"SELECT doc_id, text FROM parquet.`{clean_p}`",
            f"SELECT doc_id, text FROM {cp}", "clean")
        stats = self.timed_query(
            st, f"SELECT n_docs, total_tokens FROM parquet.`{stats_p}`",
            f"SELECT n_docs, total_tokens FROM "
            f"read_parquet('{stats_p}/*.parquet')", "stats")
        st.problems += curation_problems(rows, stats, truth)
        ids = [r[0] for r in rows]
        v = self._tick_verdicts()
        again = {d: v.pop(d) for d in self.base_ids & set(v)}
        st.problems += redelivery_problems(again, self.base_ids,
                                           self.base_survivors)
        if set(v) != set(ids):
            st.problems.append("tick verdicts do not cover the curated docs")
        survivors = {d for d, r in v.items() if r is None}
        self.expect_corpus += len(survivors)
        n, distinct = self.timed_query(
            st, f"SELECT count(*), count(DISTINCT doc_id) "
                f"FROM parquet.`{self.corpus}`",
            f"SELECT count(*), count(DISTINCT doc_id) FROM "
            f"read_parquet('{self.corpus}/*.parquet')", "corpus")[0]
        if n != distinct:
            st.problems.append("corpus ids are not unique")
        if n != self.expect_corpus:
            st.problems.append(f"corpus {n} != bootstrap + survivors "
                               f"{self.expect_corpus}")
        lo, hi = truth["day"] * 100_000, (truth["day"] + 1) * 100_000
        merged = self.timed_query(
            st, f"SELECT count(*) FROM parquet.`{self.corpus}` "
                f"WHERE doc_id >= {lo} AND doc_id < {hi}",
            f"SELECT count(*) FROM read_parquet('{self.corpus}/*.parquet') "
            f"WHERE doc_id >= {lo} AND doc_id < {hi}", "merged")[0][0]
        if merged != len(survivors):
            st.problems.append(f"corpus holds {merged} of the day's "
                               f"{len(survivors)} survivors")
        self.timed_query(
            st, f"SELECT source, count(*) FROM parquet.`{clean_p}` "
                f"GROUP BY source",
            f"SELECT source, count(*) FROM {cp} GROUP BY ALL", "sources")
        self.timed_query(
            st, f"SELECT drop_reason, count(*) FROM "
                f"parquet.`{self.verdicts}` GROUP BY drop_reason",
            f"SELECT drop_reason, count(*) FROM "
            f"read_parquet('{self.verdicts}/*.parquet') GROUP BY ALL",
            "verdicts")
        self.repeat_query_set(st)
        for r in v.values():
            if r is not None:
                self.drops[r] += 1
        self.survived += len(survivors)
        for fam in truth["families"]:
            self.planted += len(fam) - 1
            self.removed += min(len(fam) - 1,
                                sum(d not in survivors for d in fam))
        self.planted += len(truth["cross"])
        self.removed += sum(d not in survivors for d in truth["cross"])
        self.unique += len(truth["unique"])
        self.kept += sum(d in survivors for d in truth["unique"])

    def summary(self) -> dict:
        stored = sum(dir_bytes(p) for p in (self.corpus, self.index,
                                             self.verdicts))
        return {"bytes_stored_per_input_byte":
                stored / max(1, self.landed_bytes),
                "reject_recall": self.removed / max(1, self.planted),
                "keep_rate": self.kept / max(1, self.unique)}


WORKLOADS = {w.name: w for w in (EtlLanding, CorpusLanding)}
