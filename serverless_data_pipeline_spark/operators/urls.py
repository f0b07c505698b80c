"""URL canonicalization + host-grain curation (charter extension:
web-corpus source curation).

A web-scale training pipeline curates at TWO grains: documents (dedup,
quality) and HOSTS — crawl prioritization, source allow/deny lists and
per-domain quotas all key on a canonical host, and Common Crawl's own
host ranking is PageRank over the host graph. The pieces here:

- ``canonicalize_url`` — the deterministic URL normalizer (lowercase
  scheme+authority, strip default port / ``www.`` / fragment /
  tracking params), so the same page crawled via trivially-different
  URLs keys identically downstream.
- ``url_host`` — the canonical host extractor (the curation key).
- ``host_rank`` — doc-grain pair/link lists lifted to host-grain
  edges, ranked with the shared ``operators/graph.pagerank`` kernel
  (integer micro-unit determinism).

Cross-engine parity by construction: the normalization is GENERATED as
SQL once per dialect (``canonicalize_url_sql``) — the Spark operator
executes the 'spark' rendering via ``F.expr`` and the correctness
oracle embeds the 'duckdb' rendering, so both engines always run the
same step list (the dialects differ only in regex-replacement backref
tokens, the match predicate, and DuckDB's explicit 'g' flag). Every
step is a narrow codegen'd projection — no shuffle, linear at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types

from serverless_data_pipeline_spark.operators.graph import pagerank

__all__ = ["canonicalize_url", "canonicalize_url_sql", "url_host",
           "url_host_sql", "host_rank", "host_quota_sample",
           "host_rank_choice"]

_SCHEME_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"
_PREFIX_RE = "^([^/?#]*://[^/?#]*)(.*)$"
# tracking params stripped by the canonicalizer (the common redirect
# noise: Google Analytics utm_* and the Facebook click id)
_TRACK = "(utm_[A-Za-z0-9_]*|fbclid)"


def _replace(x: str, pat: str, repl: str, dialect: str) -> str:
    if dialect == "duckdb":
        return f"regexp_replace({x}, '{pat}', '{repl}', 'g')"
    return f"regexp_replace({x}, '{pat}', '{repl}')"


def canonicalize_url_sql(col: str, dialect: str) -> str:
    """The canonicalization expression for one dialect ('spark' |
    'duckdb'). Steps, in order:

    1. trim
    2. inputs without a ``scheme://`` prefix pass through lowercased
       only (defined fallback instead of engine-specific garbage)
    3. lowercase the scheme+authority prefix, keep path/query case
    4. strip a ``userinfo@`` authority prefix (user:pass@host would
       otherwise defeat the port/www strips AND make ``url_host``
       return the userinfo segment as the host — credentials are
       never part of a curation key)
    5. strip the scheme's default port (:80 http, :443 https)
    6. strip a leading ``www.`` from the host
    7. strip the fragment
    8. strip tracking params (``utm_*``, ``fbclid``) wherever they sit
       in the query string, then any dangling '?'/'&'
    """
    if dialect not in ("spark", "duckdb"):
        raise ValueError("dialect must be spark or duckdb")
    # replacement backref tokens differ: Java (Spark) uses $1, RE2
    # (DuckDB) uses \1; patterns below avoid backslashes entirely
    # ([.] instead of \.) so the PATTERN text is dialect-identical
    b1, b2 = ("$1", "$2") if dialect == "spark" else ("\\1", "\\2")
    u = f"trim({col})"
    # 3. recompose: lower(prefix) || rest
    x = (f"concat(lower(regexp_extract({u}, '{_PREFIX_RE}', 1)), "
         f"regexp_extract({u}, '{_PREFIX_RE}', 2))")
    # 4. userinfo: [^/?#]* cannot cross the authority's end, and host
    # chars can never include '@', so a greedy scan up to the LAST '@'
    # before any /?# is exactly RFC 3986's userinfo (runs first so
    # user:pass@ can't defeat the port/www anchors below)
    x = _replace(x, "^([a-z][a-z0-9+.-]*://)[^/?#]*@", b1, dialect)
    # 5./6. default port + www. (prefix is lowercase now)
    x = _replace(x, "^(https://[^/?#:]*):443($|[/?#])",
                 f"{b1}{b2}", dialect)
    x = _replace(x, "^(http://[^/?#:]*):80($|[/?#])",
                 f"{b1}{b2}", dialect)
    # (www[.])+ — repeated prefixes stripped in ONE pass, so
    # canonicalization stays a fixpoint even on www.www.* hosts
    x = _replace(x, "^([a-z][a-z0-9+.-]*://)(www[.])+", b1, dialect)
    # 7. fragment
    x = _replace(x, "#.*$", "", dialect)
    # 8. tracking params. Both patterns anchor on a REAL separator
    # ([?&]) so a legitimate param that merely CONTAINS a tracking
    # name (?xutm_a=1) is never clipped mid-token; the interior
    # pattern swallows RUNS of consecutive tracking params in one
    # match (the (...&)+ group), because the replace scan resumes
    # after the match and the shared separator would otherwise be
    # consumed. Interior (run ending in &), then terminal (run at
    # end of string), then a dangling '?'/'&'.
    x = _replace(x, f"([?&])({_TRACK}=[^&#]*&)+", b1, dialect)
    x = _replace(x, f"[?&]({_TRACK}=[^&#]*&)*{_TRACK}=[^&#]*$",
                 "", dialect)
    x = _replace(x, "[?&]$", "", dialect)
    if dialect == "duckdb":
        match = f"regexp_matches(trim({col}), '{_SCHEME_RE}')"
    else:
        match = f"trim({col}) RLIKE '{_SCHEME_RE}'"
    return (f"CASE WHEN {col} IS NULL THEN NULL "
            f"WHEN {match} THEN {x} "
            f"ELSE lower(trim({col})) END")


def url_host_sql(col: str, dialect: str) -> str:
    """Host of an ALREADY-CANONICAL url ('' when scheme-less)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError("dialect must be spark or duckdb")
    return f"regexp_extract({col}, '^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1)"


def canonicalize_url(df: DataFrame, url_col: str, *,
                     out_col: str = "canonical_url") -> DataFrame:
    """Add ``out_col`` = the canonical form of ``url_col`` (see
    ``canonicalize_url_sql`` for the exact step list). Narrow
    projection, no shuffle."""
    return df.withColumn(out_col,
                         F.expr(canonicalize_url_sql(url_col, "spark")))


def url_host(df: DataFrame, url_col: str, *,
             out_col: str = "host") -> DataFrame:
    """Add ``out_col`` = canonical host of an already-canonical URL
    column (compose after ``canonicalize_url``)."""
    return df.withColumn(out_col,
                         F.expr(url_host_sql(url_col, "spark")))


def host_rank(pairs: DataFrame, doc_host: DataFrame, *,
              id_a: str = "id_a", id_b: str = "id_b",
              id_col: str = "doc_id", host_col: str = "host",
              iters: int = 3, damping: float = 0.85,
              directed: bool = False) -> DataFrame:
    """Common-Crawl-style host centrality: lift a DOC-grain pair/link
    list (near-dup pairs, hyperlinks, citation edges — any 2-column
    relation) to HOST grain through a doc→host map, drop self-loops,
    collapse duplicates, and PageRank the host graph. Returns
    (id=host, rank).

    ``directed`` picks the edge semantics (r8 verdict #3):

    - False (default) — SHARED-CONTENT pair lists (near-dup pairs,
      co-citation): a pair has no direction, so the graph is
      symmetrized and no host can dangle.
    - True — HYPERLINK-shaped lists (``id_a`` links TO ``id_b``,
      the real Common-Crawl host-ranking input): edge direction is
      kept, host a's doc-grain out-links become host-grain out-edges.
      Dangling hosts — linked-to but never linking out (every
      host-grain sink page cluster) — keep the kernel's standard
      correction: their rank mass is redistributed uniformly over all
      hosts each iteration, so total rank stays ≈ 1 instead of
      leaking. Hosts appearing only as link TARGETS are still ranked
      (the node set is src ∪ dst); hosts with no edges at all are
      not (union them in downstream if the host universe is wider).

    Scale shape: two doc→host hash joins (the map is |docs| rows of
    (id, host) — co-partition or broadcast per its size), one distinct
    on the host-grain edge list (|host-pairs| ≤ |doc-pairs|, usually
    orders of magnitude smaller), then the shared integer-micro-unit
    pagerank kernel whose per-iteration state is (host, long)."""
    ha = doc_host.select(F.col(id_col).alias(id_a),
                         F.col(host_col).alias("__ha"))
    hb = doc_host.select(F.col(id_col).alias(id_b),
                         F.col(host_col).alias("__hb"))
    edges = (pairs.select(id_a, id_b)
             .join(ha, id_a).join(hb, id_b)
             .select(F.col("__ha").alias("src"),
                     F.col("__hb").alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    return pagerank(edges, undirected=not directed, iters=iters,
                    damping=damping)


def host_rank_choice(docs: DataFrame, host_col: str = "host", *,
                     hot_host_threshold: int = 1_000_000,
                     probe_fraction: float = 0.05) -> str:
    """The ``rank_via="auto"`` decision for ``host_quota_sample``,
    factored so tests can assert the choice directly: estimate the max
    per-host row count from a ``probe_fraction`` sample of the HOST
    COLUMN ONLY (column-pruned before sampling, so a docs frame with a
    wide or expensive lineage never re-materializes its other columns
    for the probe) and return "bucketed" above ``hot_host_threshold``,
    else "window". The probe's shuffle is ``probe_fraction`` of one column
    and partial-aggregates map-side; the estimate max(sampled
    count)/fraction is upward-biased by design — uncertainty resolves
    toward the skew-safe path. The default threshold sits at the
    measured window/bucketed crossover (README mega-host row: at
    ~250k rows per host the bucketed path's extra count aggregation
    still costs more than the one-partition sort saves; at ~2.5M the
    bucketed path wins 2.5x and bounds the sort partition).
    Correctness never depends on the choice (the two modes are
    equivalence-tested); only task skew does."""
    row = (docs.select(host_col)
           .sample(fraction=probe_fraction, seed=42)
           .groupBy(host_col).agg(F.count(F.lit(1)).alias("__c"))
           .agg(F.max("__c").alias("m")).first())
    est = (row["m"] or 0) / probe_fraction
    return "bucketed" if est > hot_host_threshold else "window"


def host_quota_sample(docs: DataFrame, quotas, *,
                      host_col: str = "host", id_col: str = "doc_id",
                      default_quota: int | None = None,
                      seed: int = 0,
                      rank_col: str = "host_rank_pos",
                      rank_via: str = "auto",
                      hot_host_threshold: int = 1_000_000,
                      probe_fraction: float = 0.05,
                      broadcast_quotas: bool = True,
                      order_col: str | None = None,
                      n_score_buckets: int = 64) -> DataFrame:
    """Per-host document caps — the curation step that CONSUMES host
    signals: web corpora cap docs per domain so no single host
    dominates the mixture (the per-domain quota discipline of
    C4/RefinedWeb-style pipelines), with the quota typically derived
    from `host_rank` centrality or an allow-list. Keeps at most
    quota(host) docs per host, selected by a SEEDED deterministic
    md5 rank (same discipline as `corpus_mix`: the decision depends
    only on (seed, doc id), never on partitioning or arrival order —
    re-running the sample on a recrawl keeps the same docs).

    ``quotas``: a (host, quota) DataFrame or a plain dict. Hosts with
    no quota row keep ``default_quota`` docs (None = unlimited).
    Docs whose host is NULL form their own group (null-safe join) —
    give them an explicit NULL-host quota row to cap them. Adds
    ``rank_col`` (the doc's 1-based rank within its host) on the
    kept rows.

    ``rank_via`` picks the ranking strategy (equivalence-tested —
    identical kept docs AND ranks; r9 verdict #3):

    - "window" — ONE hash exchange on the host plus a broadcast of
      the quota frame (|hosts| rows). Correct always, but a MEGA-host
      (one domain holding a double-digit corpus fraction) lands its
      entire row set in one sorted window partition.
    - "bucketed" — the skew-safe two-phase path: rows bucket by the
      first two hex chars of their own md5 rank key (256 buckets, and
      the bucket is a PREFIX of the sort key, so bucket order IS key
      order), a (host, bucket) count frame computes each bucket's
      exact rank offset, buckets entirely past their host's cap are
      dropped BEFORE any sort, and the final exact rank is the bucket
      offset + a row_number over (host, bucket) — the mega-host's
      sort splits across 256 partitions, each bounded by
      ~max(n_host/256, quota). Costs one extra count aggregation.
    - "auto" (default) — a sampled skew probe (``host_rank_choice``)
      picks "bucketed" when the estimated max per-host count exceeds
      ``hot_host_threshold``, else "window".

    ``order_col`` (r10) — rank by QUALITY instead of by random
    sample: keep each host's highest-``order_col`` docs (descending,
    NULL scores last; negate the column for ascending), with the md5
    key + id as the deterministic tiebreak so equal scores stay
    partition- and arrival-order-independent. The bucketed path then
    buckets by GLOBAL score range instead of md5 prefix: one
    ``percentile_approx`` aggregate (``n_score_buckets - 1``
    fractions) is fetched once and folded into the plan as a literal
    threshold array (control-plane, like the auto skew probe); each
    row's bucket is the count of
    thresholds <= its score — monotone in the score, so descending
    bucket order IS score order and the offset-reconstructed ranks
    stay EXACT regardless of how approximate the thresholds are
    (threshold quality only affects bucket BALANCE: a host whose
    scores concentrate inside one global bucket degrades toward its
    single-partition sort, never past it, and never below window
    mode). The threshold fetch is an EAGER job at call time (like the
    quota-dup guard and the auto probe), and the input is then read
    again for the offsets aggregate and the final join — CACHE or
    checkpoint ``docs`` before calling when its lineage is expensive.
    ``n_score_buckets`` defaults to 64 — a mega-host's sort
    splits 64-way (bounded at ~max(n_host/64, quota)) while the
    unrolled binary-search bucket expression stays inside JVM
    whole-stage-codegen limits; measured on the 5M-row 50%-mega
    fixture: 2.8 s at 64 buckets vs 4.6/6.8+ at 128/256 (the WHEN
    tree falls out of codegen) and 6.9 s for the window path. Any
    value is equally CORRECT (equivalence is by construction);
    only the skew split and the expression size change.

    ``broadcast_quotas`` — quota frames are usually |curated hosts|
    rows and broadcast (the default). A quota frame covering the FULL
    host universe of a web crawl (~10^8 rows) must not be forced
    through a broadcast: pass False to leave the join strategy to the
    optimizer/AQE (it becomes an ordinary hash join co-keyed on the
    host)."""
    spark = docs.sparkSession
    if isinstance(quotas, dict):
        quotas = spark.createDataFrame(
            [(h, int(q)) for h, q in quotas.items()],
            f"{host_col} string, __quota long")
    else:
        cols = quotas.columns
        quotas = quotas.select(F.col(cols[0]).alias(host_col),
                               F.col(cols[1]).cast("long")
                               .alias("__quota"))
        # the quota frame must be one row per host — a duplicate host
        # row would fan out the left join below and emit duplicate
        # kept docs (the dict form can't express this; r9 ADVICE).
        # |hosts| rows, so the check is a tiny aggregate.
        dup = (quotas.groupBy(host_col).count()
               .filter("count > 1").select(host_col).first())
        if dup is not None:
            raise ValueError(
                f"duplicate quota rows for host {dup[0]!r} — "
                "deduplicate the quota frame (one row per host)")
    if order_col is not None:
        # the bucketed path needs a NUMERIC score (percentile_approx
        # thresholds + float conversion); validated UP FRONT so an
        # auto-mode corpus crossing hot_host_threshold can't flip a
        # string/timestamp-scored call from working (window) into an
        # opaque analysis error (r10 ADVICE): auto falls back to the
        # always-correct window path, explicit bucketed raises clearly.
        # n_score_buckets is validated only where it is USED — on the
        # bucketed path below — so a window-mode call with a stale
        # bucket count keeps working (r11 ADVICE); a missing score
        # column gets this module's ValueError style, not the
        # StructType KeyError (r11 ADVICE).
        if order_col not in docs.columns:
            raise ValueError(
                f"order_col {order_col!r} is not a column of docs "
                f"(columns: {docs.columns})")
        numeric = isinstance(docs.schema[order_col].dataType,
                             types.NumericType)
        if not numeric and rank_via == "bucketed":
            raise ValueError(
                f"rank_via='bucketed' with order_col needs a numeric "
                f"score column; {order_col!r} is "
                f"{docs.schema[order_col].dataType.simpleString()} — "
                "use rank_via='window' or cast the score")
        if not numeric and rank_via == "auto":
            rank_via = "window"
    if rank_via == "auto":
        rank_via = host_rank_choice(
            docs, host_col, hot_host_threshold=hot_host_threshold,
            probe_fraction=probe_fraction)
    key = F.md5(F.concat_ws(":", F.lit(str(seed)),
                            F.col(id_col).cast("string")))
    cap = (F.coalesce(F.col("__quota"),
                      F.lit(default_quota).cast("long"))
           if default_quota is not None else F.col("__quota"))
    qbc = quotas.withColumnRenamed(host_col, "__qh")
    if broadcast_quotas:
        qbc = F.broadcast(qbc)
    head = ([F.col(order_col).desc_nulls_last()] if order_col else [])
    if rank_via == "window":
        w = Window.partitionBy(host_col).orderBy(*head, key,
                                                 F.col(id_col))
        ranked = docs.withColumn(rank_col, F.row_number().over(w))
        j = ranked.join(qbc, F.col(host_col).eqNullSafe(F.col("__qh")),
                        "left").drop("__qh")
        return (j.filter(cap.isNull() | (F.col(rank_col) <= cap))
                .drop("__quota"))
    if rank_via != "bucketed":
        raise ValueError(f"rank_via must be 'auto', 'window' or "
                         f"'bucketed', got {rank_via!r}")
    if order_col is None:
        keyed = (docs.withColumn("__k", key)
                 .withColumn("__bk", F.substring("__k", 1, 2)))
        bucket_order = F.asc("__bk")
    else:
        # score-range buckets: ONE global percentile_approx aggregate
        # fetched once (control-plane, like the auto skew probe and
        # the quota-dup guard above — a BNLJ-free foldable literal,
        # not a per-row join); bucket = #thresholds <= score is
        # monotone in the score, so descending bucket order is score
        # order and the offset arithmetic below stays exact
        if n_score_buckets < 2:
            raise ValueError(
                f"n_score_buckets must be >= 2, got {n_score_buckets}")
        fr = F.array(*[F.lit(i / n_score_buckets)
                       for i in range(1, n_score_buckets)])
        row = docs.agg(F.percentile_approx(
            order_col, fr, F.lit(10000)).alias("t")).first()
        ths = [float(t) for t in (row["t"] or [])]

        def bst(lo: int, hi: int):
            # bucket = #thresholds <= score, as an unrolled binary
            # search (log2(n_buckets) codegen'd comparisons per row —
            # a filter() over the threshold array would interpret
            # n_buckets lambda evaluations per row, ~40x slower
            # measured at 5M rows); a NULL score falls through every
            # WHEN to bucket 0, which sorts last in the descending
            # bucket layout, matching the within-bucket NULLS LAST
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi + 1) // 2
            return (F.when(F.lit(ths[mid - 1]) <= F.col(order_col),
                           bst(mid, hi))
                    .otherwise(bst(lo, mid - 1)))

        bk = (bst(0, len(ths)) if ths
              else F.lit(0)).cast("int")   # no thresholds: one bucket
        keyed = (docs.withColumn("__k", key)
                 .withColumn("__bk", bk))
        bucket_order = F.desc("__bk")
    # exact per-bucket rank offsets: |hosts| x <=n_buckets rows; the
    # offsets window partitions by host over <=n_buckets rows per host
    wb = (Window.partitionBy(host_col).orderBy(bucket_order)
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (keyed.groupBy(host_col, "__bk")
               .agg(F.count(F.lit(1)).alias("__bc"))
               .withColumn("__off", F.coalesce(F.sum("__bc").over(wb),
                                               F.lit(0)))
               .join(qbc, F.col(host_col).eqNullSafe(F.col("__qh")),
                     "left").drop("__qh")
               .withColumn("__cap", cap)
               # a bucket whose offset already reaches the cap holds
               # only ranks > cap: drop its rows before any sort
               .filter(F.col("__cap").isNull()
                       | (F.col("__off") < F.col("__cap")))
               .select(F.col(host_col).alias("__oh"),
                       F.col("__bk").alias("__obk"),
                       "__off", "__cap"))
    j = (keyed.join(offsets,
                    (F.col(host_col).eqNullSafe(F.col("__oh")))
                    & (F.col("__bk") == F.col("__obk")), "inner")
         .drop("__oh", "__obk"))
    w2 = (Window.partitionBy(host_col, "__bk")
          .orderBy(*head, F.col("__k"), F.col(id_col)))
    ranked = j.withColumn(
        rank_col,
        (F.col("__off") + F.row_number().over(w2)).cast("int"))
    return (ranked.filter(F.col("__cap").isNull()
                          | (F.col(rank_col) <= F.col("__cap")))
            .drop("__k", "__bk", "__off", "__cap"))
