"""Small engine utilities."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.sources.readers import parquet_row_groups


def ensure_min_partitions(df: DataFrame, by: Sequence[str] | None = None) -> DataFrame:
    """Spread a frame over the cluster's cores when its rows would run in
    fewer tasks than there are cores, deciding from the plan alone: the
    guard starts no Spark job. The policy, for every caller:

    1. A plan that already holds an exchange is returned unchanged. The
       exchange decides its own partitioning, and asking for its
       partition count would run the shuffle at build time only to
       learn "no-op".
    2. Otherwise the partition count is known without running anything.
       Rows sit in at most ``min(partitions, row groups)`` tasks, the row
       groups summed over the parquet footers of ``df.inputFiles()``:
       Spark's byte splits of a one-row-group file report several
       partitions, all but one of them empty.
    3. Below ``defaultParallelism`` row-carrying tasks, repartition to
       ``defaultParallelism``. On a table whose scan already yields a
       task per core, the guard adds no shuffle.

    ``by``: optional high-cardinality, never-null columns to hash on
    instead of round-robin. A keyless ``repartition(n)`` first sorts
    every input partition locally (``sortBeforeRepartition``, so retried
    tasks reproduce their row assignment), single-threaded on exactly
    the fat partition this guard splits; hashing needs no such sort and
    spreads a unique key as evenly. Keep round robin for frames whose
    per-row cost is skewed and correlates with the id. Null keys all
    hash to one partition; checking for them would cost a pass.
    """
    qe = df._jdf.queryExecution()
    if _has_exchange(df.sparkSession, qe.executedPlan()):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    tasks = qe.toRdd().getNumPartitions()
    files = df.inputFiles() if tasks >= target else []
    # a file per core already gives every core a row group
    if len(files) < target:
        tasks = min(tasks, parquet_row_groups(files) or tasks)
    if tasks >= target:
        return df
    if by:
        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)


_JOB_NODES = (
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec",
    "org.apache.spark.sql.execution.exchange.Exchange",
    "org.apache.spark.sql.execution.BaseSubqueryExec",
)


def _has_exchange(spark: SparkSession, plan) -> bool:
    """True when executing ``plan`` would start a job before its own
    tasks run: an adaptive plan, an exchange (shuffle or broadcast) or
    a subquery anywhere in the tree, including inside a cached
    relation's plan and subquery plans (``innerChildren``)."""
    jclass = spark._jvm.java.lang.Class
    kinds = [jclass.forName(name) for name in _JOB_NODES]
    stack = [plan]
    while stack:
        node = stack.pop()
        if any(k.isInstance(node) for k in kinds):
            return True
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for the frame's optimized plan —
    the same statistic the planner uses to pick broadcast joins."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def too_big_to_broadcast(df: DataFrame) -> bool:
    """True when Catalyst would NOT broadcast this frame (its size
    estimate exceeds ``spark.sql.autoBroadcastJoinThreshold``, or
    broadcasting is disabled with -1).

    Used by self-join operators to pick their physical shape the way
    Catalyst picks join strategies: below the threshold, letting AQE
    broadcast one aliased side costs one extra scan of a small input
    and ZERO shuffles — cheaper than forcing a shuffle. Above it, a
    broadcast is impossible anyway, and pre-repartitioning on the join
    keys BEFORE aliasing the sides makes both join inputs share one
    Exchange (ReusedExchange), so the expensive subtree computes once
    and only one shuffle moves the data instead of two."""
    spark = df.sparkSession
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    try:
        thr = int(raw)
    except ValueError:
        thr = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )
    if thr < 0:
        return True
    return plan_size_bytes(df) > thr


# ---------------------------------------------------------------------------
# Session-lifetime operator caches.
#
# Several operators persist a small derived relation whose subtree is
# expensive relative to its size (LSH fingerprints feeding a self-join,
# a classifier's feature frame). The frame outlives the function call —
# laziness means the consumer materializes it later — so the function
# cannot unpersist it, and an unregistered MEMORY_AND_DISK persist
# leaks: the disk tier is never evicted by memory pressure, so repeated
# calls in one long-lived session grow storage without bound. Two-part
# answer:
#   * cache at MEMORY_ONLY — every block is LRU-evictable under
#     pressure and simply recomputes on a miss, so the cache can never
#     pin disk or grow past the storage pool. That is only safe for
#     deterministic frames; a frame whose rows must not be re-drawn
#     (a sample- or limit-derived ANN query set) is frozen on the
#     driver instead (``similarity._query_side``) and never cached;
#   * register every handle so callers (benchmarks, long-lived
#     services, tests) can free them deterministically with
#     release_session_caches().
_SESSION_CACHES: list[DataFrame] = []


def session_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` at MEMORY_ONLY and register the handle for
    ``release_session_caches()``. Use for operator-internal caches of
    deterministic frames that must outlive the operator call
    (self-join sides, fingerprints, md5 digests): an evicted block
    recomputes to the same rows."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_ONLY)
    _SESSION_CACHES.append(df)
    return df


def release_session_caches() -> int:
    """Unpersist every registered operator cache (idempotent — Spark
    treats unpersist of a non-persisted frame as a no-op). A handle
    whose SparkSession has already stopped is skipped, never aborting
    the drain. Returns the number of handles released."""
    n = 0
    while _SESSION_CACHES:
        h = _SESSION_CACHES.pop()
        try:
            h.unpersist()
            n += 1
        except Exception:
            pass  # dead session / torn-down JVM: nothing left to free
    return n


def arrow_local_df(spark, data, schema=None) -> DataFrame:
    """Tiny driver-side DataFrame from ONE Arrow table.

    ``data`` is a ``pyarrow.Table`` or a dict of column name → list of
    values (equal lengths); ``schema`` (DDL string or StructType), when
    given, casts the table to it, else the table's own Arrow types
    carry over. ``createDataFrame(pa.Table)`` ships the values as one
    Arrow stream and plans as ``LocalTableScan`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says; floats round-trip
    exactly (-0.0, NaN and denormals, nested to depth 3). A list of
    tuples, or pandas with that conf off (the default), instead builds
    a pickled-row ``Scan ExistingRDD`` whose every job spins a Python
    worker to deserialize the rows."""
    import pyarrow as pa

    if not isinstance(data, pa.Table):
        data = pa.table(data)
    return spark.createDataFrame(data, schema=schema)


def exploded(
    df: DataFrame,
    cols,
    arr,
    alias: str,
    pos: str | None = None,
) -> DataFrame:
    """``SELECT cols…, [pos,] explode(arr) AS alias FROM df`` — but
    immune to Catalyst's ``InferFiltersFromGenerate``.

    The hazard: for a NON-outer explode, that rule infers
    ``size(arr) > 0 AND isnotnull(arr)`` and predicate pushdown then
    substitutes the array's FULL defining expression into a Filter that
    sinks below every projection — often below the
    ``ensure_min_partitions`` exchange, onto the scan's few input
    partitions. For a computed array (shingles, k-grams, PQ codes) the
    whole pipeline re-evaluates there, with any guard projections
    re-inlined (re-introducing the O(tokens × shingles) re-tokenize
    that ``with_shingles`` exists to prevent) and on a fraction of the
    cores. Measured on the sf1 scaling fixture: the novelty postings
    pass dropped 39 s → 5 s from this change alone.

    The fix: ``posexplode_outer`` + ``WHERE pos IS NOT NULL``, which
    reproduces ``explode``/``posexplode`` semantics EXACTLY in all
    cases — null array elements are kept as rows (their pos is
    non-null), null/empty arrays are dropped (the outer-added row has a
    null pos) — while the inference rule, which only fires on non-outer
    generates (its size>0 filter would be wrong under outer), never
    applies. The ordinal column is dropped unless ``pos`` names it.

    Name-collision guard (r12 advice, narrowed r14): the hazard is the
    caller PROJECTING a column (via ``cols``, possibly through ``"*"``)
    whose name equals the ordinal name or ``alias`` — the select would
    emit a duplicate name and the trailing ``.drop(p)`` would remove
    the caller's pre-existing column too, silently. Only that case
    raises; a column named ``alias`` that exists in ``df`` but is NOT
    projected is the well-defined replace-a-column spelling and passes.
    ``cols`` entries are resolved by name through an analysis-only
    ``df.select(*cols)`` so string names, ``"*"``, and aliased Column
    expressions are all covered.
    """
    from pyspark.sql import functions as F

    p = pos or "__exploded_pos"
    projected = set(df.select(*cols).columns) if cols else set()
    if p in projected:
        raise ValueError(
            f"exploded(): ordinal column name {p!r} is among the projected "
            "cols; the output would carry a duplicate name and drop(p) "
            "would remove the caller's column — pass a distinct pos= name"
        )
    if alias in projected:
        raise ValueError(
            f"exploded(): alias {alias!r} is among the projected cols; the "
            "explode output would duplicate it — drop it from cols to "
            "replace, or pick a distinct alias"
        )
    out = df.select(
        *cols, F.posexplode_outer(arr).alias(p, alias)
    ).where(F.col(p).isNotNull())
    return out if pos else out.drop(p)
