"""Shared operator plumbing."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def build_concurrently(*thunks: Callable[[], object]) -> list:
    """Run independent query-ARM construction closures in driver threads
    and return their results in call order (optimization guide §2.6:
    Spark's scheduler happily runs several jobs at once inside one
    application; actions are only sequential because driver code calls
    them sequentially).

    Several registry entries are tagged unions whose arms perform EAGER
    work while being BUILT — localCheckpoint barriers, iterative
    connected-components rounds with convergence probes, k-means/PQ
    codebook training collects, incremental-arm parquet writes. Built
    sequentially, each chain's scheduling gaps and single-stage tails
    leave most executor cores idle (at sf0.1 every stage is tiny; on a
    cluster every barrier has a straggler tail). Submitting the
    independent chains from a thread pool lets the next chain's tasks
    back-fill those idle cores. FIFO scheduling (the default) gives
    exactly the desired back-fill behaviour.

    Spark's local properties (job group, job description, scheduler
    pool, any caller tag) are per JVM thread and a pool thread starts
    with none, so each thunk first takes a copy of the caller's: its
    jobs land in the caller's job group, as when run inline (what
    ``pyspark.InheritableThread`` does for one thread). Each thunk gets
    its own copy, so a property one sets does not leak into another.

    Results are UNCHANGED: each thunk builds the same DataFrame it
    would have built inline — only the wall-clock schedule of the
    eager jobs differs. Exceptions propagate to the caller (the first
    failing thunk's error, as with sequential construction). Thread
    count = len(thunks): these are driver-side orchestration threads
    (almost always blocked in py4j), not compute threads."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context

    def inheriting(thunk):
        if sc is None:
            return thunk
        props = sc._jsc.sc().getLocalProperties().clone()

        def run():
            sc._jsc.sc().setLocalProperties(props)
            return thunk()
        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheriting(t)) for t in thunks]
        return [f.result() for f in futures]


def spread_small_input(df: DataFrame) -> DataFrame:
    """Small-input parallelism guard for CPU-heavy narrow stages.

    A single-row-group parquet file scans as ONE task no matter the split
    config, serializing regex/higher-order/vector work onto one core.
    Repartition up to the session default parallelism ONLY when the scan
    is under-partitioned — at 100 TB inputs have thousands of row groups
    and this is a no-op (no shuffle added). Streaming frames pass through
    untouched (micro-batch sizing owns their parallelism).

    The probe is ``inputFiles()`` (driver-side file listing off the
    analyzed plan) — NOT ``df.rdd.getNumPartitions()``, which converts
    the plan to an RDD on every call and bypasses AQE sizing. In-memory
    frames (no files) pass through: createDataFrame already spreads rows
    across defaultParallelism partitions."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < max(2, target // 2):
        return df.repartition(target)
    return df


def spread_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint whose LEAF keeps enough partitions to use
    the session's cores (r13 optimization round, guide §2.5/§2.6 small-
    input corollary of ``spread_small_input``).

    AQE rightly coalesces a small join/aggregate output to one or two
    post-shuffle partitions — but checkpointing that output FREEZES the
    coalesced layout, and ``spread_small_input`` cannot help downstream
    consumers because a checkpoint leaf has no input files to probe. At
    sf0.1 the x7 post-dedup frame checkpointed as ONE partition, so the
    entire downstream gate chain (language-id regexes, quality scoring,
    repetition shingles, decontamination explode) ran single-core on a
    32-core session.

    Scale-adaptive by construction: the partition count is probed on
    the MATERIALIZED RDD (free — the eager checkpoint just built it),
    and the respread runs only when AQE produced fewer than half the
    session's parallelism, which under size-based coalescing means the
    frame is small — so the extra repartition+re-checkpoint moves a
    small frame once. Big frames (many post-AQE partitions) return the
    first checkpoint untouched, with zero extra work."""
    ckpt = df.localCheckpoint(eager=True)
    target = df.sparkSession.sparkContext.defaultParallelism
    if ckpt.rdd.getNumPartitions() < max(2, target // 2):
        respread = ckpt.repartition(target).localCheckpoint(eager=True)
        # r14 (ADVICE): free the abandoned first checkpoint's storage
        # blocks NOW — they otherwise stay persisted until the py4j/JVM
        # refs are GC'd, a silent storage leak in a shared helper.
        release_checkpoint(ckpt)
        return respread
    return ckpt


def release_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks of the ``localCheckpoint`` leaves ``df``
    reads (``df`` itself when it is one) NOW instead of when the
    py4j/JVM refs are GC'd. ``df.unpersist()`` does not reach them, and
    neither does the python-side ``df.rdd`` (a fresh deserializing
    wrapper, verified); the block holder is each LogicalRDD leaf's
    internal RDD, so go through the plan (private internals, same caveat
    as `hadoop_fs` — best-effort, a miss only leaks local storage).
    Leaves that are not checkpoints (file scans) are left alone."""
    from py4j.protocol import Py4JError

    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except (AttributeError, Py4JError):
        pass


def hadoop_fs(spark, path: str):
    """Resolve ``path`` through the JVM Hadoop FileSystem API: returns
    (fs, jpath). ONE home for the ``spark._jvm``/``spark._jsc`` py4j
    plumbing (private internals that may shift across Spark versions)
    — artifact I/O, sink prefix deletes and partition maintenance all
    route here, so a compatibility fix lands once."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath
