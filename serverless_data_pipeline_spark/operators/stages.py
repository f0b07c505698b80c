"""ETL stage contracts T1-T6 (SURVEY §2.2) as DataFrame -> DataFrame fns.

The reference declares six Lambda stages (bodies absent from the snapshot;
contracts recovered from env vars, event wiring, and Step Functions payload
shapes — `Serverless Data Pipeline.py:226-309, 342-418`). Each stage here is
a pure transformation, so the same function runs in batch (spark.read) and
streaming (spark.readStream) — the reference's batch/stream duality (md:36)
for free.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from serverless_data_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig


def ingest(df: DataFrame, source: str = "s3", data_type: str = "json",
           priority: str = "normal", batch_id: str | None = None) -> DataFrame:
    """T1 — ingest/normalize (ingestion fn, py:226-240; API body md:172-180).

    Stamps the routing metadata the reference carries in its API payload and
    env wiring: source, data_type, priority, batch_id, ingest timestamp.
    Narrow-only (no shuffle)."""
    out = (df
           .withColumn("source", F.lit(source))
           .withColumn("data_type", F.lit(data_type))
           .withColumn("priority", F.lit(priority))
           .withColumn("ingest_ts", F.current_timestamp()))
    out = out.withColumn(
        "batch_id",
        F.lit(batch_id) if batch_id is not None
        else F.date_format(F.col("ingest_ts"), "yyyyMMddHH"))
    return out


@dataclass
class ValidationResult:
    valid: DataFrame
    invalid: DataFrame

    def is_valid(self) -> bool:
        """The scalar `$.validation_result.is_valid` consumed by the
        reference's ValidationChoice (py:404-408): a batch is valid when it
        has no invalid rows. Driver-side decision, not a column."""
        return self.invalid.isEmpty()


OK_COL = "__ok"


def validity(df: DataFrame, required: dict[str, T.DataType],
             checks: list[Column] | None = None) -> Column | None:
    """T2's row predicate: every `required` column non-null and every
    check true. A row is valid only where it is TRUE (a NULL check result
    is invalid). None when the batch fails structurally — a required
    column is missing or has another type — so the whole batch is
    invalid."""
    if any(c not in df.columns or df.schema[c].dataType != t
           for c, t in required.items()):
        return None
    pred = F.lit(True)
    for c in required:
        pred = pred & F.col(c).isNotNull()
    for extra in checks or []:
        pred = pred & extra
    return pred


def split_flagged(flagged: DataFrame) -> ValidationResult:
    """Split a frame carrying the `OK_COL` validity flag into its valid
    and invalid rows (NULL flag -> invalid), dropping the flag."""
    ok = F.col(OK_COL)
    return ValidationResult(
        valid=flagged.filter(ok).drop(OK_COL),
        invalid=flagged.filter(~ok | ok.isNull()).drop(OK_COL),
    )


def validate(df: DataFrame, required: dict[str, T.DataType],
             checks: list[Column] | None = None) -> ValidationResult:
    """T2 — schema validation (validation fn, py:243-255; md:300,316).

    `required` maps column name -> expected Spark type (the engine-side
    replacement for the config-bucket schemas, py:113-117). Missing columns
    fail the whole batch (structural); present rows are split row-wise on
    null-checks + optional quality predicates. Invalid rows route to the
    error sink (SNS error topic py:153-156 / errors/ prefix py:198)."""
    ok = validity(df, required, checks)
    if ok is None:
        return ValidationResult(valid=df.limit(0), invalid=df)
    return split_flagged(df.withColumn(OK_COL, ok))


def transform(df: DataFrame, ts_col: str = "ts",
              dims: dict[str, tuple[DataFrame, list[str]]] | None = None) -> DataFrame:
    """T3 — clean / enrich / convert (transformation fn, py:258-270;
    md:301,317 "Data cleaning, enrichment, and format conversion").

    clean: trim + lower string columns, null-safe.
    enrich: broadcast-join small dimension tables (star-schema enrichment).
    convert: derive the year/month/day/hour partition columns of the
    Firehose prefix expression (py:197) so the sink can partitionBy them.
    """
    out = df
    for f in out.schema.fields:
        if isinstance(f.dataType, T.StringType):
            out = out.withColumn(f.name, F.lower(F.trim(F.col(f.name))))
    for _name, (dim, on) in (dims or {}).items():
        out = out.join(F.broadcast(dim), on, "left")
    if ts_col in out.columns:
        ts = F.col(ts_col)
        out = (out
               .withColumn("year", F.year(ts))
               .withColumn("month", F.month(ts))
               .withColumn("day", F.dayofmonth(ts))
               .withColumn("hour", F.hour(ts)))
    return out


def chunked_transform(df: DataFrame, fn, n_chunks: int = 3) -> DataFrame:
    """T4 — the reference fans the transform over 3 fixed parallel branches
    with a chunk_id payload (sfn.Parallel, py:373-390). On Spark, partition
    parallelism subsumes this; we keep the operator for contract parity by
    tagging a chunk_id and letting `fn` run per-partition-parallel anyway.
    `repartition(n_chunks)` only when a caller truly wants the fixed fan-out
    — at scale leave it to AQE."""
    chunked = df.withColumn(
        "chunk_id", F.pmod(F.spark_partition_id(), F.lit(n_chunks)))
    return fn(chunked)


def quality_score(df: DataFrame, scored_columns: list[str] | None = None,
                  rules: list[Column] | None = None) -> float:
    """T5 — quality scoring (quality fn, py:273-284): ONE scalar per batch,
    compared against the threshold by the router (py:411-418). Score =
    mean over columns of per-column completeness (non-null fraction),
    optionally averaged with rule pass-rates. Single map-side-combined
    aggregate → one tiny row to the driver; the scalar routing decision is
    driver-side by design (SURVEY §7.3)."""
    cols = scored_columns or df.columns
    aggs = [F.avg(F.when(F.col(c).isNotNull(), 1.0).otherwise(0.0)).alias(f"c_{i}")
            for i, c in enumerate(cols)]
    aggs += [F.avg(F.when(r, 1.0).otherwise(0.0)).alias(f"r_{i}")
             for i, r in enumerate(rules or [])]
    row = df.agg(*aggs).first()
    vals = [v for v in row if v is not None]
    return float(sum(vals) / len(vals)) if vals else 0.0


def quality_gate(score: float, config: EngineConfig = DEFAULT_CONFIG) -> bool:
    """QualityChoice (py:411-418): score must clear the configured
    threshold (0.85, py:714-719) — the state machine's own hard floor is
    0.8 (py:413)."""
    return score > config.quality_threshold


def realtime_transform(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """T6 — per-record stream transform (realtime fn, py:287-298): derive
    analytics fields and forward to the analytics stream. Works unchanged
    on a streaming DataFrame (narrow ops only)."""
    out = df.withColumn("processed_ts", F.current_timestamp())
    if ts_col in df.columns:
        out = out.withColumn("event_hour", F.date_trunc("hour", F.col(ts_col)))
    return out


_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "double",
                     "float", "decimal")


def _is_numeric_dtype(dt: str) -> bool:
    # "interval day" startswith "int" — intervals are not castable to
    # double and must not take the numeric min/max/avg path
    return dt.startswith(_NUMERIC_PREFIXES) and not dt.startswith("interval")


def profile_columns(df: DataFrame, columns: list[str] | None = None, *,
                    approx_distinct: bool = False,
                    rsd: float = 0.05) -> DataFrame:
    """Data-quality column profile (Deequ/TFDV-style; the audit sibling
    of T2 validation and the T5 quality gate, py:243-255 + py:273-284 —
    a production pipeline profiles every landed batch BEFORE gating it,
    so a schema drift, a null surge, or a cardinality collapse is a
    report line, not a silent downstream corruption).

    One row per profiled column:
    - ``n_rows``, ``n_null``, ``null_frac`` (round 6)
    - ``n_distinct`` — exact by default; ``approx_distinct=True``
      switches to HyperLogLog++ (`approx_count_distinct`, relative
      error ``rsd``) — the 100 TB path: exact multi-column distincts
      expand the scan once per column, the sketch path is one pass
      with constant memory
    - ``vmin``/``vmax``/``vavg`` (doubles) for numeric columns —
      ``vavg`` is quantized to micro-units and accumulated exactly in
      DECIMAL(38,0), so it is partition-order-independent (a plain
      double avg can flip its round-6 at a tie depending on merge
      order); values beyond the decimal's micro-unit range drop out of
      the mean deterministically
    - ``smin``/``smax`` (strings) for string columns
    Date/timestamp/complex columns profile counts + distinct only —
    their min/max stay NULL rather than transiting an engine-specific
    string rendering.

    Scale shape: ONE aggregation job over one scan — every statistic is
    a map-side-combinable aggregate collapsed to a single row, then
    exploded to the per-column report (a |columns|-row frame). No
    window, no join, no second scan. The exact-distinct mode plans one
    Expand over the scan (the standard multi-distinct rewrite);
    `approx_distinct` removes even that."""
    cols = columns if columns is not None else df.columns
    dtypes = dict(df.dtypes)
    unknown = [c for c in cols if c not in dtypes]
    if unknown:
        raise ValueError(f"no such columns: {unknown}")
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = dtypes[c]
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append((F.approx_count_distinct(c, rsd) if approx_distinct
                     else F.countDistinct(c)).alias(f"__nd_{c}"))
        if _is_numeric_dtype(dt):
            aggs.append(F.min(c).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"__mx_{c}"))
            # vavg: micro-unit integers accumulated EXACTLY (a plain
            # double avg's last ulp depends on partition merge order,
            # which can flip the round-6 at a tie — the same discipline
            # as flag_outliers/lm_score); values beyond DECIMAL(38,0)
            # micro-units drop out of the mean deterministically
            aggs.append(F.round(
                F.sum(F.round(F.col(c) * 1_000_000)
                      .try_cast("decimal(38,0)")).cast("double")
                / (F.count(c).cast("double") * 1e6), 6)
                .alias(f"__av_{c}"))
        elif dt == "string":
            aggs.append(F.min(c).alias(f"__smn_{c}"))
            aggs.append(F.max(c).alias(f"__smx_{c}"))
    one = df.agg(*aggs)
    nulld = F.lit(None).cast("double")
    nulls = F.lit(None).cast("string")
    rows = []
    for c in cols:
        dt = dtypes[c]
        num, s = _is_numeric_dtype(dt), dt == "string"
        rows.append(F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("long").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{c}")).cast("long")
            .alias("n_null"),
            # empty input: 0/0 raises under ANSI mode — report NULL
            F.when(F.col("__n") > 0,
                   F.round((F.col("__n") - F.col(f"__nn_{c}"))
                           / F.col("__n"), 6))
            .alias("null_frac"),
            F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
            (F.col(f"__mn_{c}") if num else nulld).alias("vmin"),
            (F.col(f"__mx_{c}") if num else nulld).alias("vmax"),
            (F.col(f"__av_{c}") if num else nulld).alias("vavg"),
            (F.col(f"__smn_{c}") if s else nulls).alias("smin"),
            (F.col(f"__smx_{c}") if s else nulls).alias("smax")))
    return (one.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.*"))


def quantile_buckets(df: DataFrame, score_col: str,
                     cuts: tuple[float, ...] = (0.25, 0.75),
                     labels: tuple[str, ...] = ("tail", "middle",
                                                "head"), *,
                     exact: bool = True, accuracy: int = 10_000,
                     round_scale: int | None = None,
                     by: str | None = None,
                     bucket_col: str = "bucket") -> DataFrame:
    """Quantile bucketing IN-PLAN — the CCNet head/middle/tail cut
    (docs ranked by LM score, corpus split at fixed quantiles) without
    the driver-side approxQuantile round trip: thresholds are ONE
    aggregate row broadcast back onto the corpus, so the whole thing
    stays a lazy, composable plan (and specifically NOT a global ntile
    window, whose single sort partition would serialize a 100 TB
    corpus).

    Bucket rule: ``labels[i]`` for ``score < quantile(cuts[i])`` (first
    match), last label otherwise — so with the defaults, the bottom
    quartile is "tail", the top quartile "head".

    ``exact=True`` (default) computes exact interpolated percentiles —
    deterministic and oracle-checkable (DuckDB ``quantile_cont`` uses
    the same linear interpolation), but the aggregate buffers values
    per merge: fine to ~10^8 rows. ``exact=False`` switches to
    ``approx_percentile`` (bounded-memory sketch, ``accuracy``
    parameter) — the 100 TB path, same plan shape.

    ``round_scale`` (optional) rounds the thresholds to that many
    decimals before comparing — pin it when the result must be
    engine-portable (interpolated percentiles can differ across
    engines in the last ulp, and a score sitting exactly on an
    unrounded threshold would then classify differently).

    ``by`` (optional) computes the thresholds PER GROUP — the actual
    CCNet discipline (perplexity percentiles are cut per LANGUAGE, so
    a low-resource language isn't wholesale tail-bucketed by the
    high-resource languages' score range). The threshold frame is one
    row per group, broadcast back through a null-safe left join
    (NULL-group rows form their own threshold group and are preserved,
    never dropped)."""
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly len(cuts) + 1 labels")
    if list(cuts) != sorted(cuts) or len(set(cuts)) != len(cuts):
        raise ValueError("cuts must be strictly increasing")
    fn = "percentile" if exact else "approx_percentile"
    arr = ", ".join(repr(float(c)) for c in cuts)
    extra = "" if exact else f", {accuracy}"
    qs = F.expr(f"{fn}({score_col}, array({arr}){extra})")
    if round_scale is not None:
        qs = F.transform(qs, lambda x: F.round(x, round_scale))
    if by is None:
        th = df.agg(qs.alias("__qs"))
        out = df.crossJoin(F.broadcast(th))
    else:
        th = (df.groupBy(F.col(by).alias("__qg"))
              .agg(qs.alias("__qs")))
        out = (df.join(F.broadcast(th),
                       F.col(by).eqNullSafe(F.col("__qg")), "left")
               .drop("__qg"))
    # a NULL score gets a NULL bucket — every `<` comparison is
    # null-false, so without the guard NULLs would silently land in
    # the TOP label
    expr = F.when(F.col(score_col).isNull(),
                  F.lit(None).cast("string"))
    expr = expr.when(F.col(score_col) < F.element_at("__qs", 1),
                     F.lit(labels[0]))
    for i in range(1, len(cuts)):
        expr = expr.when(F.col(score_col) < F.element_at("__qs", i + 1),
                        F.lit(labels[i]))
    expr = expr.otherwise(F.lit(labels[-1]))
    return out.withColumn(bucket_col, expr).drop("__qs")


def outlier_value_cutoff(max_group_rows: int) -> int:
    """The largest |micro-unit value| ``flag_outliers`` can accumulate
    EXACTLY for groups of up to ``max_group_rows`` non-null rows: the
    min of the quadratic bound isqrt((10^38 - 1) / n) (n * v^2 must fit
    the sum-of-squares' DECIMAL(38,0)) and the linear bound
    (10^29 - 1) / n (n * v must fit the plain sum's DECIMAL(29,0) —
    Spark widens a DECIMAL(19,0) SUM by 10 digits, and for
    n >= ~1e20 this is the binding constraint)."""
    import math
    return min(math.isqrt((10 ** 38 - 1) // max_group_rows),
               (10 ** 29 - 1) // max_group_rows)


def flag_outliers(df: DataFrame, key_col: str, value_col: str, *,
                  z: int = 3, scale: int = 1_000_000,
                  max_group_rows: int = 10 ** 10,
                  out_col: str = "is_outlier") -> DataFrame:
    """Per-group z-score outlier flagging (the monitoring rule behind
    the reference's CloudWatch data-quality alarms, here as a columnar
    operator): a row is an outlier when |v - mean_g| > z * stddev_g
    within its ``key_col`` group.

    Engine-portable determinism: the condition is evaluated as
    (v*n - S)^2 > z^2 * (n*Q - S^2) (population variance, cleared of
    divisions) over micro-unit integers (v scaled by ``scale``), with
    S = sum v and Q = sum v^2 accumulated EXACTLY in DECIMAL(38,0) —
    so the aggregates are partition-order-independent — then the
    comparison runs in doubles with this exact parenthesization,
    mirrored verbatim in the oracle SQL (identical IEEE op sequence on
    identical inputs → identical flags; a float mean/stddev pipeline
    would order its reductions differently per engine). ``z`` is an
    integer multiplier for the same reason.

    One groupBy over the key (tiny cardinality) broadcast back onto
    the rows — no second shuffle; adds ``out_col`` plus the group's
    non-null count ``n_g`` for downstream rate reporting. NULL values
    are never outliers. NULL keys form their own group (null-safe
    join — the row-preserving contract holds for them too).

    Overflow guard: the per-value magnitude cutoff is DERIVED from
    ``max_group_rows`` (an upper bound on any single group's non-null
    row count) via ``outlier_value_cutoff`` so BOTH exact aggregates
    provably stay in range — n * v_max^2 within the sum-of-squares'
    DECIMAL(38,0) AND n * v_max within the plain sum's DECIMAL(29,0)
    (Spark widens a DECIMAL(19,0) sum by 10 digits; for
    max_group_rows >= ~1e20 that linear bound is the binding one) —
    a per-value-only cap would still let a large group overflow, and
    under ANSI mode that overflow kills the job. At the defaults the
    cutoff is ~1e14 micro-units (|v| > ~1e8): values beyond it can't
    be accumulated exactly, so they are flagged unconditionally (a
    monitor must not report the most extreme row as normal, and must
    not crash on it) and excluded from the group stats. Groups bigger
    than ``max_group_rows`` rows: raise it (the cutoff tightens
    proportionally)."""
    if z < 1 or scale < 1:
        raise ValueError("z and scale must be >= 1")
    if max_group_rows < 1:
        raise ValueError("max_group_rows must be >= 1")
    cutoff = outlier_value_cutoff(max_group_rows)
    v_try = F.round(F.col(value_col) * scale).try_cast("decimal(19,0)")
    v_int = F.when(F.abs(v_try) > F.lit(cutoff).cast("decimal(19,0)"),
                   F.lit(None)).otherwise(v_try)
    per = df.withColumn("__v", v_int)
    stats = (per.groupBy(key_col)
             .agg(F.count("__v").alias("__n"),
                  F.sum("__v").cast("double").alias("__s"),
                  F.sum(F.col("__v") * F.col("__v")).cast("double")
                   .alias("__q"))
             .withColumnRenamed(key_col, "__k"))
    j = (per.join(F.broadcast(stats),
                  F.col(key_col).eqNullSafe(F.col("__k")))
         .drop("__k"))
    vd = F.col("__v").cast("double")
    nd = F.col("__n").cast("double")
    lhs = vd * nd - F.col("__s")
    rhs = F.lit(float(z * z)) * (nd * F.col("__q")
                                 - F.col("__s") * F.col("__s"))
    return (j.withColumn(
                out_col,
                F.when(F.col(value_col).isNull(), F.lit(False))
                 .when(F.col("__v").isNull(), F.lit(True))
                 .otherwise((lhs * lhs) > rhs))
            .withColumnRenamed("__n", "n_g")
            .drop("__v", "__s", "__q"))


def profile_drift(a: DataFrame, b: DataFrame,
                  columns: list[str] | None = None, *,
                  approx_distinct: bool = False,
                  rsd: float = 0.05) -> DataFrame:
    """Between-VERSION column drift report (charter: dataset-version QA
    — the promote/reject report a curator reads before swapping corpus
    v(N) for v(N+1); `snapshot_diff` answers WHICH docs changed, this
    answers whether the new version's DISTRIBUTIONS moved).

    Runs `profile_columns` on both versions and full-outer-joins the
    two per-column reports, so a column present in only one version
    surfaces as schema drift (`status` added/removed) rather than
    silently vanishing. One row per column:

    - ``status`` — 'both' | 'added' (B only) | 'removed' (A only)
    - ``n_rows_a/b``, ``null_frac_a/b`` + ``null_frac_delta``
    - ``n_distinct_a/b``, ``distinct_rate_a/b`` (distinct/rows, the
      cardinality-collapse detector) + ``distinct_rate_delta``
    - ``vmin_delta``/``vmax_delta``/``vavg_a``/``vavg_b``/
      ``vavg_delta`` for numeric columns (NULL otherwise)

    Every delta is round-6 of (B - A) over profile stats that are
    themselves round-6 micro-unit-exact, so the report is
    deterministic and engine-portable. Scale shape: two single-scan
    profile aggregations (one per version) + a join of two
    |columns|-row frames — nothing else touches the data. Callers
    that compare ONE side repeatedly (the streaming monitor's static
    reference) should profile it ONCE with ``profile_columns`` and
    use ``profile_drift_from_profiles`` — the profile-form sibling of
    ``mix_shift_from_counts``, bit-identical by construction."""
    pa = profile_columns(a, columns, approx_distinct=approx_distinct,
                         rsd=rsd)
    pb = profile_columns(b, columns, approx_distinct=approx_distinct,
                         rsd=rsd)
    return profile_drift_from_profiles(pa, pb)


def profile_drift_from_profiles(pa: DataFrame,
                                pb: DataFrame) -> DataFrame:
    """``profile_drift`` over two PRECOMPUTED ``profile_columns``
    frames — bit-identical output to the corpus form (every delta
    derives from the profile rows alone; pytest-pinned), but each side
    costs |columns| rows instead of a corpus scan. This is the
    repeated-comparison form (r9 verdict #2): the streaming monitor
    profiles its static reference ONCE at stream start and feeds the
    |columns|-row frame here every epoch, and a corpus registry that
    persists per-version profiles can diff any two versions without
    touching either corpus."""
    # n_null deliberately absent: the report derives nothing from it
    # (null_frac is already a profile stat), so carrying it would be
    # dead weight in every join this function plans
    stats = ["n_rows", "null_frac", "n_distinct",
             "vmin", "vmax", "vavg"]
    pa2 = pa.select(F.col("column").alias("__ca"),
                    *[F.col(s).alias(f"{s}_a") for s in stats])
    pb2 = pb.select(F.col("column").alias("__cb"),
                    *[F.col(s).alias(f"{s}_b") for s in stats])
    j = pa2.join(pb2, F.col("__ca") == F.col("__cb"), "full_outer")

    def d6(x, y):
        return F.round(F.col(y) - F.col(x), 6)

    def rate(nd, n):
        return F.when(F.col(n) > 0, F.round(F.col(nd) / F.col(n), 6))

    return j.select(
        F.coalesce("__ca", "__cb").alias("column"),
        F.when(F.col("__ca").isNull(), F.lit("added"))
         .when(F.col("__cb").isNull(), F.lit("removed"))
         .otherwise(F.lit("both")).alias("status"),
        "n_rows_a", "n_rows_b",
        "null_frac_a", "null_frac_b",
        d6("null_frac_a", "null_frac_b").alias("null_frac_delta"),
        "n_distinct_a", "n_distinct_b",
        rate("n_distinct_a", "n_rows_a").alias("distinct_rate_a"),
        rate("n_distinct_b", "n_rows_b").alias("distinct_rate_b"),
        F.round(rate("n_distinct_b", "n_rows_b")
                - rate("n_distinct_a", "n_rows_a"), 6)
         .alias("distinct_rate_delta"),
        d6("vmin_a", "vmin_b").alias("vmin_delta"),
        d6("vmax_a", "vmax_b").alias("vmax_delta"),
        "vavg_a", "vavg_b",
        d6("vavg_a", "vavg_b").alias("vavg_delta"))


def mix_shift(a: DataFrame, b: DataFrame, col: str, *,
              eps: float = 1e-6) -> DataFrame:
    """Per-category distribution shift of one categorical column
    between two corpus versions — the language-mix / source-mix drift
    detail behind `mix_shift_summary`'s PSI/JS scalars. One row per
    category observed in EITHER version (NULL categories count as
    their own category, never dropped):

    - ``n_a``/``n_b`` counts and ``frac_a``/``frac_b`` (round-6)
    - ``frac_delta`` = round6(frac_b - frac_a)
    - ``psi_term`` = (p' - q') * ln(p'/q') with p', q' the fractions
      clamped to ``eps`` (the standard PSI smoothing for categories
      missing on one side; each term >= 0)
    - ``js_term`` — this category's contribution to Jensen-Shannon
      divergence (nats): 0.5*(p*ln(p/m) + q*ln(q/m)), m=(p+q)/2,
      with the 0*ln(0)=0 convention (terms may be negative; the SUM
      is >= 0)

    Terms are round-6 over round-6 fractions (and nudged by +0.0 so a
    tiny negative never surfaces as -0.0), keeping the whole report
    engine-portable. Scale shape: the two versions are tagged and
    UNIONed into ONE hash aggregation on the category (no join, one
    pass over each version); the totals are a SUM OVER () window on
    the already-tiny |categories|-row counts frame — its single
    partition holds category counts, never corpus rows, so a 100 TB
    version pair costs exactly two scans and one |categories|-row
    shuffle (a totals crossJoin would instead re-plan the whole
    aggregation subtree and scan both versions twice). Callers that
    compare ONE side repeatedly (the streaming monitor's static
    reference) should aggregate it ONCE with ``category_counts`` and
    use ``mix_shift_from_counts`` instead of paying the reference
    scan per comparison."""
    tagged = (a.select(F.col(col).alias("category"),
                       F.lit(1).alias("__s"))
              .unionAll(b.select(F.col(col).alias("category"),
                                 F.lit(2).alias("__s"))))
    counts = (tagged.groupBy("category")
              .agg(F.count(F.when(F.col("__s") == 1, 1)).alias("n_a"),
                   F.count(F.when(F.col("__s") == 2, 1)).alias("n_b")))
    return _mix_shift_terms(counts, eps=eps)


def category_counts(df: DataFrame, col: str) -> DataFrame:
    """One-pass categorical histogram of ``col``: (category, n), NULL
    kept as its own category — the precomputable per-version summary
    ``mix_shift_from_counts`` compares (|categories| rows, the ONLY
    thing the mix kernel ever needs from a corpus version)."""
    return (df.groupBy(F.col(col).alias("category"))
            .agg(F.count(F.lit(1)).alias("n")))


def mix_shift_from_counts(counts_a: DataFrame, counts_b: DataFrame, *,
                          eps: float = 1e-6) -> DataFrame:
    """``mix_shift`` over two PRECOMPUTED ``category_counts`` frames —
    bit-identical output to the corpus form (pytest-pinned: the counts
    are the same longs, and every downstream fraction/term derives
    from them), but each side costs |categories| rows instead of a
    corpus scan. This is the repeated-comparison form: the streaming
    drift monitor aggregates its static reference ONCE and feeds the
    counts here every epoch (r8 verdict #2), and a corpus registry
    that stores per-version histograms can diff any two versions
    without touching either corpus."""
    ca = counts_a.select("category",
                         F.col("n").cast("long").alias("n_a"),
                         F.lit(0).cast("long").alias("n_b"))
    cb = counts_b.select("category",
                         F.lit(0).cast("long").alias("n_a"),
                         F.col("n").cast("long").alias("n_b"))
    counts = (ca.unionAll(cb)
              .groupBy("category")
              .agg(F.sum("n_a").alias("n_a"),
                   F.sum("n_b").alias("n_b")))
    return _mix_shift_terms(counts, eps=eps)


def _mix_shift_terms(counts: DataFrame, *, eps: float) -> DataFrame:
    """Shared tail of ``mix_shift``/``mix_shift_from_counts``:
    round-6 fractions + PSI/JS terms over a (category, n_a, n_b)
    counts frame."""
    w = Window.partitionBy()

    def frac(n, t):
        return (F.when(F.col(t) > 0, F.round(F.col(n) / F.col(t), 6))
                .otherwise(F.lit(0.0)))

    cur = (counts
           .withColumn("__ta", F.sum("n_a").over(w))
           .withColumn("__tb", F.sum("n_b").over(w))
           .select("category", "n_a", "n_b",
                   frac("n_a", "__ta").alias("frac_a"),
                   frac("n_b", "__tb").alias("frac_b")))
    p = F.greatest(F.col("frac_a"), F.lit(float(eps)))
    q = F.greatest(F.col("frac_b"), F.lit(float(eps)))
    m = (F.col("frac_a") + F.col("frac_b")) / F.lit(2.0)
    psi = F.round((p - q) * F.log(p / q), 6) + F.lit(0.0)
    js = F.round(
        F.lit(0.5)
        * (F.when(F.col("frac_a") > 0,
                  F.col("frac_a") * F.log(F.col("frac_a") / m))
            .otherwise(F.lit(0.0))
           + F.when(F.col("frac_b") > 0,
                    F.col("frac_b") * F.log(F.col("frac_b") / m))
            .otherwise(F.lit(0.0))), 6) + F.lit(0.0)
    return cur.select(
        "category", "n_a", "n_b", "frac_a", "frac_b",
        F.round(F.col("frac_b") - F.col("frac_a"), 6)
         .alias("frac_delta"),
        psi.alias("psi_term"), js.alias("js_term"))


def mix_shift_summary(a: DataFrame, b: DataFrame, col: str, *,
                      eps: float = 1e-6) -> DataFrame:
    """One-row categorical-drift scalar report for ``col`` between two
    corpus versions: category counts per side, categories added/
    removed, and the three standard shift statistics — PSI (the
    industry promote/reject gate: < 0.1 stable, > 0.25 major shift),
    Jensen-Shannon divergence (nats), and total variation distance.
    Sums accumulate the per-category round-6 terms as micro-unit
    longs (partition-order-proof), then divide once. Callers that
    already hold the ``mix_shift`` frame (e.g. for a per-category
    report over the same column) should pass it to
    ``mix_shift_summarize`` instead of paying the two scans twice."""
    return mix_shift_summarize(mix_shift(a, b, col, eps=eps))


def mix_shift_summarize(per: DataFrame) -> DataFrame:
    """Aggregate an ALREADY-COMPUTED `mix_shift` per-category frame to
    the one-row scalar report (see ``mix_shift_summary``)."""

    def micro_sum(c):
        return F.sum(F.round(F.col(c) * 1_000_000).cast("long"))

    return per.agg(
        F.count("*").alias("n_categories"),
        # side row counts fall out of the same aggregation (sum of
        # category counts) — callers like the streaming monitor need
        # them and must NOT pay a second scan for a count()
        F.coalesce(F.sum("n_a"), F.lit(0)).cast("long")
         .alias("n_rows_a"),
        F.coalesce(F.sum("n_b"), F.lit(0)).cast("long")
         .alias("n_rows_b"),
        F.sum((F.col("n_a") > 0).cast("long")).alias("n_cat_a"),
        F.sum((F.col("n_b") > 0).cast("long")).alias("n_cat_b"),
        F.sum((F.col("n_a") == 0).cast("long")).alias("n_added"),
        F.sum((F.col("n_b") == 0).cast("long")).alias("n_removed"),
        (micro_sum("psi_term") / F.lit(1e6)).alias("psi"),
        (micro_sum("js_term") / F.lit(1e6)).alias("js"),
        (F.sum(F.abs(F.round((F.col("frac_b") - F.col("frac_a"))
                             * 1_000_000).cast("long")))
         / F.lit(2e6)).alias("tvd"))
