"""Structured Streaming faces of the engine's batch operators.

Every entry here runs a real streaming query and is checked against its
batch twin (pytest, and the DuckDB oracle for the catalog faces) — the
strongest check available for non-SQL-expressible streaming state
(SURVEY §2.13). ``run_windowed_stream`` replays the events fixture
through a watermarked file source under any ``streaming.windows``
builder; the custom stateful operators (``applyInPandasWithState``,
``transformWithStateInPandas``) cover semantics the built-in window
operators can't express; the ledger entries fold micro-batches into
transactional ``VersionedTable`` state through ``foreachBatch``.

Runner contract: every availableNow entry drains through ``_drain``,
and every staged source comes from ``_staged_stream``.

- ``_drain`` runs a stream to completion under the availableNow
  trigger. With a ``foreachBatch`` sink it returns nothing; otherwise
  the rows land in a memory sink under a fresh name, come back
  checkpointed off it, and the sink's temp view is dropped.
- ``_staged_stream`` writes a frame as ``n_files`` parquet files and
  yields a stream reading one file per trigger — ``n_files`` real
  micro-batches from a single-file fixture — and deletes the staged
  copy once the drain is done.

So a build leaves no temp view and no staged copy behind. Per-batch
progress is not returned: a ``StreamingQueryListener`` on
``streaming_session(spark)`` sees every query these entries start.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import uuid
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from functools import partial
from pathlib import Path

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_pipeline_with_spark_spark.sources.readers import read_testdata
from data_pipeline_with_spark_spark.streaming.windows import tumbling_window_agg
from data_pipeline_with_spark_spark.util import exploded

# Number of state-store partitions for the demo/fixture-scale
# streaming queries below. Profiled r13 (streaming HLL, sf0.01): the
# ~1 s/micro-batch machinery floor was dominated by the 32 state-store
# instances (one per shuffle partition) each writing checkpoint delta
# files every batch — 32→4 partitions cut the query run phase ~2.4×
# with identical results and the SAME number of real micro-batches.
# Scale story: streaming state partitioning should be sized to STATE
# VOLUME, not to the session's batch shuffle width; these operators
# carry O(types×registers) / O(groups) bounded state, for which 4
# partitions is generous. A 100 TB deployment with row-scale state
# raises it at FIRST query start (the checkpoint pins it thereafter —
# Spark cannot repartition state under an existing checkpoint).
STREAM_STATE_PARTITIONS = 4
_STREAM_SESSION_LOCK = threading.Lock()


def streaming_session(spark: SparkSession) -> SparkSession:
    """The cached child session (``newSession`` — shared SparkContext,
    OWN SQLConf) for the streaming demos, with
    ``spark.sql.shuffle.partitions`` sized for their bounded state.

    Why a child session: the shuffle-partition conf is captured by a
    streaming query at start, but setting it on the CALLER's session
    would race with concurrently running batch entries (the oracle
    harness pools entries over threads sharing one session). The child
    session isolates the conf; everything a demo reads or joins is
    (re)built from it, so no frame crosses sessions.

    Idempotent: one child per parent, and a child maps to itself, so a
    listener attached to ``streaming_session(spark)`` sees every query
    the demos start, including a ``run_*`` composed inside another.
    """
    if getattr(spark, "_dps_is_stream_session", False):
        return spark
    with _STREAM_SESSION_LOCK:  # concurrent first calls must share one child
        child = getattr(spark, "_dps_stream_session", None)
        if child is None:
            child = spark.newSession()
            child.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
            child._dps_is_stream_session = True
            spark._dps_stream_session = child
    return child


def _take_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """Checkpoint a terminated memory sink's rows off it and drop its
    temp view, so nothing of the query outlives the returned frame."""
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def _drain(df: DataFrame, mode: str = "append", sink=None) -> DataFrame | None:
    """Run the streaming frame ``df`` to completion under the
    availableNow trigger, in output ``mode``. With a ``foreachBatch``
    ``sink`` returns None; otherwise returns the rows of a memory sink
    named afresh per call (reusing a memory-sink name after termination
    is undefined behaviour to lean on)."""
    writer = df.writeStream.outputMode(mode).trigger(availableNow=True)
    if sink is not None:
        writer.foreachBatch(sink).start().awaitTermination()
        return None
    name = f"sink_{uuid.uuid4().hex}"
    writer.format("memory").queryName(name).start().awaitTermination()
    return _take_memory_sink(df.sparkSession, name)


@contextmanager
def _staged_stream(
    spark: SparkSession, df: DataFrame, path: str, n_files: int = 4
) -> Iterator[DataFrame]:
    """Stage ``df`` under ``path`` as ``n_files`` parquet files and yield
    a stream reading one file per trigger: availableNow then runs
    ``n_files`` real micro-batches (a fixture is a single file = one
    batch). On exit the staged copy is deleted, and its parent directory
    too if that leaves it empty."""
    df.repartition(n_files).write.parquet(path)
    try:
        yield (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(path))
        except OSError:
            pass


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream: file source with an event-time ``ts``
    timestamp column, ready for watermarking.

    ``readStream`` needs an explicit schema, so we resolve it from a
    batch read of the same file — whatever unit the fixture stores, the
    stream sees the identical Spark schema. The nanos→micros shim is
    applied only when ``ts`` actually resolves as bigint (a
    TIMESTAMP(NANOS) file read under ``nanosAsLong``), mirroring the
    batch guard in ``sources.readers.read_testdata``; a fixture that
    stores ``timestamp[us]`` passes through untouched.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_dtype = dict(batch.dtypes).get("ts")
    if ts_dtype == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_dtype == "timestamp_ntz":
        # Watermarking requires TIMESTAMP (with local tz). The cast reads
        # the NTZ wall time in the session timezone — the same
        # interpretation unix_timestamp() gives the batch NTZ column — so
        # stream results stay equal to the batch face in any session tz.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def run_windowed_stream(
    spark: SparkSession, sf_dir: str, build, watermark: str = "1 hour"
) -> DataFrame:
    """Run any batch window-agg builder (``streaming.windows.*``) as a
    streaming query: identical logical plan, incremental state, complete
    mode. The batch face is the oracle."""
    spark = streaming_session(spark)
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return _drain(build(events), "complete")


USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def user_running_stats(
    pdf_key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user running (count, sum) kept in
    GroupState across micro-batches."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [pdf_key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def run_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState over the event stream: running per-user
    counters, update mode."""
    spark = streaming_session(spark)
    events = read_events_stream(spark, sf_dir)
    stats = events.groupBy("user_id").applyInPandasWithState(
        user_running_stats,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(stats, "update")


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "45 days",
) -> DataFrame:
    """Streaming deduplication: dropDuplicatesWithinWatermark keeps one
    row per key combination with bounded state (keys expire after the
    watermark). With a watermark longer than the fixture's 30-day span
    this equals a global batch dropDuplicates — pytest asserts that."""
    spark = streaming_session(spark)
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return _drain(events.dropDuplicatesWithinWatermark(list(keys)).select(*keys))


def run_stream_into_lakehouse(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    watermark: str = "1 hour",
) -> "VersionedTable":
    """Streaming ingest into the lakehouse: readStream → foreachBatch →
    VersionedTable.append. Each micro-batch lands as one atomic commit
    (schema-enforced, time-travelable), which is exactly the Delta
    `writeStream.format('delta')` pattern re-expressed over the engine's
    versioned table — the incremental face of the reference's batch
    `mode('append')` ingestion (lakehouse_data_igestion.py:159-169).

    At scale: the sink is transactional — ``idempotent_append`` tags
    each commit with (app_id, epoch_id), so a foreachBatch retry after a
    failure (Structured Streaming replays the epoch) is a no-op instead
    of a duplicate: exactly-once end to end, Delta's txnAppId/txnVersion
    pattern. State stays bounded because the aggregation is windowed +
    watermarked upstream of the sink. NOTE: complete mode recomputes the
    full result every batch, so append-per-batch is only correct for a
    single-batch replay (this fixture: one file, one availableNow
    batch). A continuous deployment switches to append-mode emission of
    watermark-finalized windows, or overwrites the table per epoch —
    same transactional hook either way.
    """
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = tumbling_window_agg(events, window="1 hour")
    table = VersionedTable(spark, table_path)
    table.create(spark.createDataFrame([], agg.schema))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        table.idempotent_append(batch_df, app_id="stream_ingest", batch_id=epoch_id)

    _drain(agg, "complete", sink)
    return table


def _stream_stream_join(
    spark: SparkSession, sf_dir: str, how: str, max_lag: str
) -> DataFrame:
    """Clicks joined ``how`` to purchases by the same user within
    ``max_lag`` after the click, both sides watermarked at 1 hour."""
    spark = streaming_session(spark)
    clicks = (
        read_events_stream(spark, sf_dir)
        .where("event_type = 'click'")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user)
        & (purchases.p_ts > clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr(f"INTERVAL {max_lag}")),
        how,
    ).select(
        "click_id",
        "user_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
        "p_value",
    )
    return _drain(joined)


def run_stream_stream_join(
    spark: SparkSession, sf_dir: str, max_lag: str = "1 HOUR"
) -> DataFrame:
    """Stream–stream inner join: clicks joined to purchases by the same
    user within ``max_lag`` after the click. Watermarks on BOTH sides +
    the time-range join condition let Spark bound the join state (a
    click can be dropped from state once the purchase-side watermark
    passes click_ts + max_lag) — unbounded state is the failure mode of
    naive stream joins at scale. Batch face: the identical join over the
    static events table (asserted equal in pytest)."""
    return _stream_stream_join(spark, sf_dir, "inner", max_lag)


def run_stream_stream_left_join(
    spark: SparkSession, sf_dir: str, max_lag: str = "1 HOUR"
) -> DataFrame:
    """Stream–stream LEFT OUTER join — the state-eviction variant.

    Inner joins emit on match; an OUTER join must additionally emit the
    null-padded row for a click that never matched, and it can only do
    so once the watermark proves no future purchase can still arrive
    (watermark > click_ts + max_lag). That deferred emission IS the
    bounded-state contract: a click's state entry lives exactly until
    its join window is provably closed, then is evicted — emitted with
    nulls if unmatched. Clicks near the end of the stream whose window
    the final watermark never passes stay in state and emit nothing;
    the batch-face test reproduces that exact cutoff, which is the
    semantics a replayed deployment observes (Spark runs a final
    no-data micro-batch to flush evictable state; see
    ``noDataMicroBatches``)."""
    return _stream_stream_join(spark, sf_dir, "left_outer", max_lag)


def run_rate_limited_stream(
    spark: SparkSession,
    rows_per_second: int = 500,
    min_batches: int = 3,
    timeout_seconds: float = 90.0,
) -> DataFrame:
    """Live micro-batch ingestion from the ``rate`` source — the one
    truly unbounded demo (everything else replays a finite fixture).

    ``rowsPerSecond`` is the source-side rate limit (the backpressure
    knob a production ingest tunes instead of letting a burst flood
    the state store); a 1-second processing-time trigger paces the
    micro-batches. The aggregation counts rows per event-time second in
    UPDATE output mode with a short watermark — the combination where
    Spark really evicts closed windows, keeping state bounded while the
    query runs forever. We wait until at least ``min_batches`` micro-batches
    completed AND the sink has rows (condition-based, not wall-clock —
    a slow session's first batch must not be cut off mid-commit), then
    stop — pytest asserts multiple batches arrived and the observed
    rate respects the limit. (Spark's continuous-trigger mode is left
    out deliberately: it supports map-only pipelines, no aggregations —
    micro-batch IS the production path for stateful queries.)
    """
    spark = streaming_session(spark)
    import time as _time

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", "2")
        .load()
    )
    agg = (
        src.withWatermark("timestamp", "2 seconds")
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.unix_timestamp("window.start").alias("sec"),
            "n_rows",
        )
    )
    # update mode, not complete: the watermark actually evicts closed
    # windows from the state store (complete mode retains every window
    # forever, which would contradict the bounded-state claim). The
    # memory sink then holds one row per emitted update — a window
    # growing across triggers appears several times, so the returned
    # frame takes the last (max) count per second.
    name = f"sink_{uuid.uuid4().hex}"
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = _time.time() + timeout_seconds
    n_batches = 0
    while _time.time() < deadline:
        lp = query.lastProgress
        n_batches = (lp["batchId"] + 1) if lp else 0
        if n_batches >= min_batches and spark.table(name).count() > 0:
            break
        _time.sleep(0.25)
    query.stop()
    query.awaitTermination()
    out = _take_memory_sink(spark, name).groupBy("sec").agg(
        F.max("n_rows").alias("n_rows")
    )
    return out.withColumn("n_trigger_batches", F.lit(int(n_batches)))


try:
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
except ImportError:  # pre-4.0 Spark: transformWithState unavailable
    StatefulProcessor = object  # type: ignore[assignment,misc]


class UserStatsProcessor(StatefulProcessor):
    """StatefulProcessor for transformWithStateInPandas — Spark 4's
    successor to applyInPandasWithState: named state variables via the
    handle, explicit lifecycle, timer support. Same per-user running
    (count, sum) semantics as ``user_running_stats`` above so pytest can
    assert the two APIs and the batch aggregation all agree."""

    def init(self, handle) -> None:
        self._stats = handle.getValueState("stats", "n BIGINT, total DOUBLE")

    def handleInputRows(self, key, rows, timerValues):
        n, total = self._stats.get() if self._stats.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._stats.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    def close(self) -> None:
        pass


def run_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas face of the per-user running stats.

    Requires ``google.protobuf`` at runtime (the transformWithState
    state server's wire protocol) — absent in this container, so pytest
    importorskips; the applyInPandasWithState twin above covers the
    semantics in CI either way.
    """
    spark = streaming_session(spark)
    proc = UserStatsProcessor()
    events = read_events_stream(spark, sf_dir)
    stats = events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=USER_STATS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _drain(stats, "update")


def run_stream_matview(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> tuple["VersionedTable", "IncrementalAggView"]:
    """Continuous incremental view maintenance: readStream →
    foreachBatch → (transactional base-table append, CDF view refresh).

    Each micro-batch lands as one atomic base commit via
    ``idempotent_append`` and the aggregate view folds exactly that
    commit's change feed — the streaming face of
    ``lake.matview.IncrementalAggView``, i.e. a continuously-maintained
    materialized view. Exactly-once composes end to end: a replayed
    epoch no-ops the append (txnAppId/txnVersion pattern), which leaves
    the base version unchanged, so the paired ``refresh()`` folds an
    empty delta; and the view's watermark commits atomically with its
    merge, so a crash between append and refresh is healed by the next
    refresh (it folds from the recorded watermark, never resampling).

    Cost honesty: the fold's DELTA is O(changed rows), but this
    engine's ``changes()`` derives it as a declarative diff of the two
    endpoint snapshots (two ``exceptAll`` passes), so each refresh
    still READS O(table) even though it shuffles/merges only the
    delta. A file-log CDF (Delta's) would read only the changed files;
    with this engine the equivalent shortcut is deriving the batch's
    delta from ``batch_df`` itself when the sink is append-only —
    ``changes()`` is used here because it stays correct for arbitrary
    base DML, not just streaming appends. ``value`` is folded as
    integer cents: sums maintained by signed add/subtract must be
    exact, not floating drift."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    work = Path(work_dir)
    ev = read_testdata(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # floor(x+0.5): the cross-engine half-up shared with the oracle
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("value_cents"),
    )
    base = VersionedTable(spark, str(work / "base")).create(
        spark.createDataFrame([], ev.schema)
    )
    view = IncrementalAggView(
        spark, base, str(work / "view"), keys=["user_id"], sum_cols=["value_cents"]
    ).build()

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        base.idempotent_append(batch_df, app_id="mv_ingest", batch_id=epoch_id)
        view.refresh()

    with _staged_stream(spark, ev, str(work / "staging")) as stream:
        _drain(stream, sink=sink)
    return base, view


PSI_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_first_half", T.LongType()),
        T.StructField("n_second_half", T.LongType()),
        T.StructField("psi", T.DoubleType()),
        # raw histograms ride along so exact cross-engine PSI can be
        # recomputed in Catalyst expressions (float-sum order in the
        # Python loop differs from SQL SUM by 1 ulp on occasion)
        T.StructField("ref_bins", T.ArrayType(T.LongType())),
        T.StructField("live_bins", T.ArrayType(T.LongType())),
    ]
)
_PSI_STATE_SCHEMA = T.StructType(
    [T.StructField(f"b{i}", T.LongType()) for i in range(10)]
    + [T.StructField("tot", T.LongType())]  # includes out-of-range bins
)


def run_streaming_psi_drift(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Stateful streaming drift monitor — the production shape of
    ``events_psi_drift``: a REFERENCE value histogram (here the stream's
    first half, in production the training distribution) broadcasts in
    the operator closure; the live stream (second half, staged as 4
    files → 4 real micro-batches) folds per-type 10-bin histograms in
    ``GroupState`` via ``applyInPandasWithState`` and emits the running
    PSI each micro-batch. State is O(types × 10 bins) — bounded forever,
    no watermark needed. After availableNow drains the stream, the
    final emission per type equals the batch PSI exactly (same Laplace
    smoothing), which is how the driver oracle checks a genuinely
    streaming-executed query."""
    spark = streaming_session(spark)
    ev = read_testdata(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp("ts").alias("es"),
        "value",
    )
    lo, hi = ev.agg(F.min("es"), F.max("es")).collect()[0]
    mid = (lo + hi) / 2
    binned = ev.withColumn(
        "bin", F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int")
    )
    # reference histogram: tiny (types x 10), rides the closure.
    # The SQL twin's grid spans bins 0..9 only, but its per-half TOTALS
    # count every row — a negative value (bin -1) is excluded from the
    # probabilities yet still in the denominator; mirror that exactly.
    ref_rows = (
        binned.where(F.col("es") <= mid)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    ref: dict[str, list[int]] = {}
    ref_tot: dict[str, int] = {}
    for r in ref_rows:
        ref_tot[r.event_type] = ref_tot.get(r.event_type, 0) + r.n
        if 0 <= r.bin <= 9:
            ref.setdefault(r.event_type, [0] * 10)[r.bin] += r.n
        else:
            ref.setdefault(r.event_type, [0] * 10)

    live = binned.where(F.col("es") > mid).select("event_type", "bin")

    def fold(key: tuple, pdfs, state: GroupState):
        if state.exists:
            *counts, tot = state.get
            counts = list(counts)
        else:
            counts, tot = [0] * 10, 0
        for pdf in pdfs:
            for b, n in pdf.groupby("bin").size().items():
                tot += int(n)
                if 0 <= int(b) <= 9:  # out-of-range: totals only
                    counts[int(b)] += int(n)
        state.update((*counts, tot))
        et = key[0]
        ref_counts = ref.get(et, [0] * 10)
        n_ref, n_live = ref_tot.get(et, 0), tot
        psi = 0.0
        for b in range(10):
            pa = (ref_counts[b] + 0.5) / (n_ref + 5.0)
            pb = (counts[b] + 0.5) / (n_live + 5.0)
            psi += (pb - pa) * math.log(pb / pa)
        yield pd.DataFrame(
            {
                "event_type": [et],
                "n_first_half": [n_ref],
                "n_second_half": [n_live],
                "psi": [round(psi, 6)],
                "ref_bins": [list(ref_counts)],
                "live_bins": [list(counts)],
            }
        )

    with _staged_stream(spark, live, str(Path(work_dir) / "staging")) as stream:
        sink = _drain(
            stream.groupBy("event_type").applyInPandasWithState(
                fold,
                outputStructType=PSI_SCHEMA,
                stateStructType=_PSI_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ),
            "update",
        )
    # updates accumulate per micro-batch: the final emission per type is
    # the row with that type's maximum live count
    w = Window.partitionBy("event_type").orderBy(F.desc("n_second_half"))
    return (
        sink.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .drop("__r")
    )


def run_streaming_hll(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Streaming HyperLogLog: distinct-user registers maintained as
    INCREMENTAL AGGREGATION STATE — the mergeable-sketch property
    (register = per-bucket max) is exactly what lets Spark's streaming
    groupBy fold micro-batches without reprocessing, so the operator is
    the native streaming agg itself, no custom state handler.

    The events fixture stages as 4 files → 4 real micro-batches; state
    is O(types × 256) rows forever (bounded, no watermark needed);
    complete-mode memory sink holds the drained register table, which by
    the max-merge property equals the batch `sketches.hll_registers`
    output bit-for-bit — how the driver oracle checks this
    streaming-executed query against batch SQL.
    """
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.llm import sketches

    ev = read_testdata(spark, sf_dir, "events").select("event_type", "user_id")
    with _staged_stream(spark, ev, str(Path(work_dir) / "staging")) as stream:
        regs = (
            sketches.hll_project(stream, "user_id", ["event_type"])
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("reg"))
        )
        return _drain(regs, "complete")


def run_streaming_cms(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Streaming Count-Min: token counters fold as incremental
    aggregation state (counter merge = +, the other half of the
    mergeable-sketch pair next to `run_streaming_hll`'s max). The
    documents fixture stages as 4 files → 4 real micro-batches; state is
    O(d·w) rows forever; the drained complete-mode sink equals the batch
    `sketches.cms_sketch` counters bit-for-bit because per-instance
    counting distributes over any micro-batch split."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.llm import sketches
    from data_pipeline_with_spark_spark.llm.text import tokens

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    keys = F.array(
        *[sketches.cms_key(i, "token") for i in range(sketches.CMS_DEPTH)]
    )
    with _staged_stream(spark, docs, str(Path(work_dir) / "staging")) as stream:
        toks = exploded(stream, [], tokens("text"), "token")
        counters = (
            exploded(toks, [], keys, "key", pos="row")
            .groupBy("row", "key")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return _drain(counters, "complete")


def run_streaming_quantile(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Streaming quantile histogram: HdrHistogram-style bucket counters
    fold as incremental aggregation state (counter merge = +, same
    mergeability leg as `run_streaming_cms`). The events fixture stages
    as 4 files → 4 real micro-batches over `value` cents; state is
    O(64·QH_SUB) rows forever; the drained complete-mode sink equals the
    batch `sketches.quantile_hist` counters bit-for-bit, so any quantile
    is answerable from the drained sketch without reprocessing."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.llm import sketches

    ev = read_testdata(spark, sf_dir, "events").select("value")
    cents = "greatest(CAST(round(value * 100) AS BIGINT), CAST(1 AS BIGINT))"
    with _staged_stream(spark, ev, str(Path(work_dir) / "staging")) as stream:
        hist = (
            stream.select(F.expr(sketches.qh_bucket_sql(cents)).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return _drain(hist, "complete")


DEDUP_LEDGER_SCHEMA = "text_hash STRING, keeper_id BIGINT, n_copies BIGINT"
DEDUP_BATCH_PROP = "stream_dedup.last_batch"


def fold_dedup_batch(ledger, batch_df: DataFrame, epoch_id: int) -> bool:
    """Fold one micro-batch of documents into the dedup ledger via a
    transactional MERGE: keeper = least(doc_id) on hash collision, copy
    counts accumulate. ``least`` and ``+`` are commutative/associative,
    so the drained ledger is independent of micro-batch order — it
    always equals the batch ``exact_dedup_groups`` aggregate.

    Exactly-once: the ledger's own batch watermark property rides the
    SAME commit as the merge (VersionedTable.extra_properties), so a
    foreachBatch replay of an already-folded epoch no-ops — the
    streaming-sink idempotency pattern shared with idempotent_append.
    A lost O_EXCL race against concurrent maintenance (OPTIMIZE is
    content-preserving) applied nothing, so the merge retries under
    ``retry_on_conflict`` with the watermark re-checked inside the
    closure — a retry can never double-fold. Returns whether the batch
    was applied."""
    from data_pipeline_with_spark_spark.lake.versioned import (
        WhenMatched,
        WhenNotMatched,
        retry_on_conflict,
    )

    delta = (
        batch_df.withColumn("text_hash", F.md5(F.col("text")))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )

    def attempt() -> bool:
        last = int(ledger.table_properties().get(DEDUP_BATCH_PROP, "-1"))
        if epoch_id <= last:
            return False
        ledger.merge(
            delta,
            keys=["text_hash"],
            matched=[
                WhenMatched(
                    update={
                        "keeper_id": "least(t.keeper_id, s.keeper_id)",
                        "n_copies": "t.n_copies + s.n_copies",
                    }
                )
            ],
            not_matched=[WhenNotMatched()],
            extra_properties={DEDUP_BATCH_PROP: str(epoch_id)},
            # md5(NULL) is NULL and groupBy folds NULL texts into ONE
            # group (exactly like the batch aggregate / DuckDB oracle);
            # plain MERGE equality would never match that ledger row and
            # insert a fresh NULL-hash row per batch, so the key must be
            # null-safe.
            null_safe_keys=True,
            # Provably redundant here (the matview doctrine): delta IS a
            # groupBy on the merge key, so uniqueness holds by
            # construction, and the validation count job re-evaluates
            # the md5+groupBy subtree once more PER MICRO-BATCH — this
            # was the r13 "~1 s/batch foreachBatch residual". Measured
            # A/B r14 (run_stream_dedup at sf0.1, 3 interleaved runs,
            # quiet anchors 0.27-0.32, drained-ledger hash identical
            # across all 6 runs): 5.55 s with validation vs 3.15 s
            # without (-43%).
            validate_unique_source=False,
        )
        return True

    return retry_on_conflict(attempt)


def run_stream_dedup(spark: SparkSession, sf_dir: str, work_dir: str):
    """STREAMING corpus deduplication — the crawl-snapshot shape an LLM
    ingestion pipeline actually runs: documents arrive in micro-batches
    and every batch must dedup against EVERYTHING seen so far, not just
    itself. State lives in a transactional dedup ledger (content hash →
    keeper id + copy count) folded per batch by ``fold_dedup_batch``'s
    MERGE; only 16-byte digests ever shuffle or persist, never bodies.

    Scale shape: per batch the work is O(batch) hashing + one MERGE
    against the ledger — at 100 TB the ledger is partitioned by hash
    prefix and the merge join stays hash-local; the corpus itself is
    never re-read. Returns the ledger whose read() must equal the batch
    exact-dedup aggregate (the DuckDB oracle)."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    work = Path(work_dir)
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    ledger = VersionedTable(spark, str(work / "ledger")).create(
        spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
    )
    with _staged_stream(spark, docs, str(work / "staging")) as stream:
        _drain(stream, sink=partial(fold_dedup_batch, ledger))
    return ledger


def _band_triples(
    batch_df: DataFrame, k_shingle: int, num_hashes: int, bands: int
) -> DataFrame:
    from data_pipeline_with_spark_spark.llm.dedup import (
        lsh_band_hashes,
        with_minhash,
    )

    sigs = with_minhash(batch_df, "text", k_shingle, num_hashes)
    rows_per_band = num_hashes // bands
    return exploded(
        sigs,
        [F.col("doc_id").cast("long").alias("doc_id")],
        lsh_band_hashes(F.col("minhash"), bands, rows_per_band),
        "band_hash",
        pos="band_idx",
    ).select("band_idx", "band_hash", "doc_id")


def _candidate_pairs(new: DataFrame, seen: DataFrame) -> DataFrame:
    """Candidate pairs with AT LEAST ONE new doc: new×(seen ∪ new) on
    band-bucket equality, normalized to distinct (id_a < id_b). Shared
    by the production fold and the crash-replay test so the torn-epoch
    simulation can never drift from the real derivation."""
    pool = seen.unionByName(new)
    return (
        new.alias("n")
        .join(
            pool.alias("s"),
            on=(
                (F.col("n.band_idx") == F.col("s.band_idx"))
                & (F.col("n.band_hash") == F.col("s.band_hash"))
                & (F.col("n.doc_id") != F.col("s.doc_id"))
            ),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("id_a"),
            F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias("id_b"),
        )
        .distinct()
    )


def fold_near_dup_batch(
    bands_ledger,
    pairs_table,
    batch_df: DataFrame,
    epoch_id: int,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> bool:
    """Fold one micro-batch into the streaming near-dup state: compute
    the batch docs' MinHash band triples, emit every candidate pair
    with AT LEAST ONE new doc (new×seen via the band ledger, new×new
    within the batch), then append the new triples to the ledger.

    A pair is discovered exactly once — in the batch where its LATER
    doc arrives (both docs' bands exist from then on, and both-old
    pairs are never re-joined) — so the accumulated pairs table equals
    the batch LSH candidate set regardless of batch order. Both appends
    are ``idempotent_append`` under the same epoch id, ordered pairs
    BEFORE bands: a replay after a crash between them re-skips the
    pairs append and re-applies only the missing bands append, never
    double-counting (pairs are derived from the PRE-batch ledger
    state, which a pairs-applied/bands-missing crash preserves).

    Each append retries under ``retry_on_conflict``: the only
    legitimate concurrent committer is maintenance (OPTIMIZE — content
    preserving, so the pre-read candidate derivation stays valid), and
    ``idempotent_append`` re-checks its batch watermark per call, so a
    retry can never double-append."""
    from data_pipeline_with_spark_spark.lake.versioned import retry_on_conflict
    from data_pipeline_with_spark_spark.util import ensure_min_partitions

    # A one-file micro-batch arrives as ONE scan partition,
    # so the fold's heavy map side (tokenize → shingle → 4×md5 minhash)
    # would run on one core; the guard hash-spreads it on doc_id and is
    # a no-op for batches that already arrive parallel.
    new = _band_triples(
        ensure_min_partitions(batch_df.select("doc_id", "text"), by=("doc_id",)),
        k_shingle, num_hashes, bands,
    )
    # The batch's band triples feed THREE separate evaluations — the
    # candidate join's probe side, the pool union's new half, and the
    # bands-ledger append (two distinct actions) — and the subtree
    # above them (tokenize → shingle → 4×md5 minhash → band hashes) is
    # the expensive part of the fold. Persist the tiny digest frame so
    # that work runs once per batch (r15 A/B, 7 interleaved rounds at
    # sf0.1, quiet anchors 0.31-0.32: median 11.28 → 9.86 s, -13%).
    # Unpersist before returning: state must not accumulate across
    # micro-batches.
    new = new.persist()
    try:
        cand = _candidate_pairs(new, bands_ledger.read())
        applied = retry_on_conflict(
            lambda: pairs_table.idempotent_append(
                cand, app_id="stream_near_dup_pairs", batch_id=epoch_id
            )
        )
        retry_on_conflict(
            lambda: bands_ledger.idempotent_append(
                new, app_id="stream_near_dup_bands", batch_id=epoch_id
            )
        )
    finally:
        new.unpersist()
    return applied


def run_stream_near_dup(
    spark: SparkSession, sf_dir: str, work_dir: str
):
    """STREAMING MinHash-LSH near-dup detection — the incremental form
    of ``dedup.minhash_candidate_pairs``: documents arrive in
    micro-batches and each batch's candidates are found against the
    full history via a band-hash ledger, never by re-scanning the
    corpus. Per batch the work is O(batch bands + matched buckets):
    the ledger join is an equi-join on (band_idx, band_hash) — at
    100 TB the ledger is bucketed on the band hash so the probe is
    hash-local, and only 16-byte digests + ids ever persist or
    shuffle. The ledgers accrete one commit per micro-batch; periodic
    maintenance is the table's own OPTIMIZE (zorder on band_hash for
    the probe key) — purely physical, so it composes with in-flight
    folds and the idempotent-append accounting sees through the
    interleaved commit (tested). Returns (bands_ledger, pairs_table);
    the pairs table must equal the batch LSH candidate set (the DuckDB
    oracle)."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    work = Path(work_dir)
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    bands_ledger = VersionedTable(spark, str(work / "bands")).create(
        spark.createDataFrame([], "band_idx INT, band_hash STRING, doc_id BIGINT")
    )
    pairs_table = VersionedTable(spark, str(work / "pairs")).create(
        spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    )
    with _staged_stream(spark, docs, str(work / "staging")) as stream:
        _drain(stream, sink=partial(fold_near_dup_batch, bands_ledger, pairs_table))
    return bands_ledger, pairs_table


def maintain_stream_dedup_state(
    ledger=None,
    bands_ledger=None,
    pairs_table=None,
    keep_versions: int = 1,
    orphan_retention_seconds: float | None = None,
    target_file_size_bytes: int | None = None,
) -> dict:
    """Periodic maintenance for the streaming-dedup ledgers — the
    missing half of "the ledgers accrete one commit per micro-batch":
    without it a long-running stream accumulates one small file AND one
    log version per batch forever. For each ledger handed in, this runs

    - ``OPTIMIZE`` with Z-order-lite on the ledger's probe key (the
      column its per-batch join/merge seeks on: ``text_hash`` for the
      exact-dedup ledger, ``band_hash`` for the band ledger, ``id_a``
      for the pairs table), so post-compaction footer min/max keeps the
      probe pruned — the same small-file healing the IVFPQ index gets
      from ``compact()``; and
    - ``vacuum(keep_versions, orphan_retention_seconds)``, reclaiming
      the superseded per-batch dirs while the retention guard spares
      any in-flight writer's staging dir AND any recently-superseded
      dir a concurrent micro-batch's snapshot read may still hold.

    Safe to run BESIDE an active stream: beyond the vacuum retention
    guard, the OPTIMIZE commit races the micro-batch merge for the
    next log slot — whoever loses the O_EXCL publish raises
    ``CommitConflict`` having applied nothing, so this wraps each
    ledger's OPTIMIZE in ``retry_on_conflict`` (re-reads the new
    snapshot and re-compacts), and the fold functions carry the
    mirror-image retry on their side (``fold_dedup_batch`` /
    ``fold_near_dup_batch``). The interleaved-thread test
    (tests/test_streaming.py::test_maintenance_beside_active_folds)
    pins the composed result.

    Both steps are purely physical: folds before and after compose to
    the same answer and the exactly-once batch watermarks ride the
    property chain through the maintenance commits (pinned by
    tests/test_streaming.py). Returns per-ledger stats
    ``{files_before, files_after, vacuumed_dirs}``."""
    from data_pipeline_with_spark_spark.lake.versioned import retry_on_conflict

    out: dict[str, dict] = {}
    for name, t, zkey in (
        ("ledger", ledger, "text_hash"),
        ("bands_ledger", bands_ledger, "band_hash"),
        ("pairs_table", pairs_table, "id_a"),
    ):
        if t is None:
            continue
        before = len(t._snapshot_files()[0])
        retry_on_conflict(
            lambda t=t, zkey=zkey: t.optimize(
                zorder_by=[zkey], target_file_size_bytes=target_file_size_bytes
            )
        )
        removed = t.vacuum(
            keep_versions=keep_versions,
            orphan_retention_seconds=orphan_retention_seconds,
        )
        out[name] = {
            "files_before": before,
            "files_after": len(t._snapshot_files()[0]),
            "vacuumed_dirs": len(removed),
        }
    return out


def run_stream_ivfpq_ingest(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_cells: int = 16,
    m: int = 8,
    k_codes: int = 16,
    pq_iters: int = 2,
    n_increments: int = 4,
):
    """STREAMING ANN-index maintenance — the serving shape of a
    continuously-crawled embedding corpus: the IVFPQ index is built
    once on the vectors already present, then newly-arrived embeddings
    stream in micro-batches and each batch is assigned to the frozen
    coarse cells, PQ-encoded, and appended to the index's
    ``VersionedTable`` exactly-once (``idempotent_append`` under the
    foreachBatch contract — a replayed epoch no-ops).

    Scale shape: per batch the work is one scan of the batch (assign =
    broadcast-centroid argmin, encode = Catalyst expressions) + one
    commit touching only the appended files; probes stay pruned to
    n_probe/n_cells of the files no matter how many increments built
    the index, and time travel replays any historical index state.

    ``n_increments`` is the number of staged files and therefore of
    micro-batches/commits (one file per trigger) — batch-count
    independence is itself pinned by pytest (streamed index ≡ the
    one-append twin), so a smaller count only trades per-commit fixed
    cost, never semantics.

    Returns the ``VersionedIvfPqIndex``; the caller probes it."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.llm.similarity import VersionedIvfPqIndex

    work = Path(work_dir)
    emb = read_testdata(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.where("vec_id % 2 = 0")
    arriving = emb.where("vec_id % 2 = 1")
    idx = VersionedIvfPqIndex.build(
        base, str(work / "index"),
        n_cells=n_cells, m=m, k_codes=k_codes, pq_iters=pq_iters,
    )
    with _staged_stream(spark, arriving, str(work / "staging"), n_increments) as stream:
        _drain(stream, sink=idx.ingest)
    return idx


QUALITY_CURATED_SCHEMA = "doc_id BIGINT, source STRING, quality_score DOUBLE"


def run_stream_quality_filter(
    spark: SparkSession, sf_dir: str, work_dir: str
):
    """STREAMING quality curation — the filter an LLM ingestion
    pipeline runs in front of its curated store: the hashed-LR quality
    classifier trains ONCE up front (production shape: train offline,
    FREEZE, filter the stream), documents then arrive in micro-batches,
    score under the frozen weights (a pure broadcast projection — no
    state), and rows above the corpus-mean threshold append
    exactly-once (``idempotent_append`` + ``retry_on_conflict``) into a
    versioned curated table.

    Because the weights and threshold are frozen before the stream and
    per-doc scores are batch-independent, the drained curated table
    equals the batch score-and-filter — which is exactly what the
    DuckDB oracle recomputes (training replayed via the unrolled-GD
    CTE chain). Scale shape: per batch O(batch) scoring + one append;
    nothing global is recomputed per batch."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.lake.versioned import (
        VersionedTable,
        retry_on_conflict,
    )
    from data_pipeline_with_spark_spark.llm import classifier

    work = Path(work_dir)
    docs = read_testdata(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    w = classifier.train_quality_classifier(
        docs, F.col("source") == "src0", n_buckets=64, iters=3
    )
    # frozen threshold: corpus mean of round-6 scores (round-6 again —
    # a sum of quantized values is ulp-stable across engines)
    thr = float(
        classifier.score_quality(docs, w)
        .agg(F.round(F.avg("quality_score"), 6))
        .collect()[0][0]
    )
    curated = VersionedTable(spark, str(work / "curated")).create(
        spark.createDataFrame([], QUALITY_CURATED_SCHEMA)
    )

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        kept = (
            classifier.score_quality(batch_df, w)
            .where(F.col("quality_score") > thr)
            .select("doc_id", "source", "quality_score")
        )
        retry_on_conflict(
            lambda: curated.idempotent_append(
                kept, app_id="stream_quality_filter", batch_id=epoch_id
            )
        )

    with _staged_stream(spark, docs, str(work / "staging")) as stream:
        _drain(stream, sink=fold)
    return curated, thr


def run_streaming_static_enrich(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Stream-static enrichment: the canonical dimension-join-at-ingest
    pattern — a live event stream inner-joined to a STATIC customer
    dimension (broadcast, stateless: no watermark, no join state, the
    static side is re-readable per micro-batch by contract), then
    aggregated per (market segment, event type). Demonstrates the third
    streaming-join shape next to `stream_stream_join` (stateful) and
    the windowed aggs: enrich-then-aggregate with bounded state = one
    row per group.

    Counters are integer (event count + value-cents sum), so the
    complete-mode drained state equals the batch join+agg bit-for-bit.
    """
    spark = streaming_session(spark)
    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    cust = read_testdata(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    with _staged_stream(spark, ev, str(Path(work_dir) / "staging")) as stream:
        enriched = stream.join(F.broadcast(cust), "user_id")
        agg = enriched.groupBy("c_mktsegment", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("value_cents"),
        )
        return _drain(agg, "complete")


NOVELTY_POSTINGS_SCHEMA = "doc_id BIGINT, sid STRING"


def fold_novelty_batch(postings, batch_df: DataFrame, epoch_id: int, k_shingle: int = 3) -> bool:
    """Fold one micro-batch into the streaming novelty state: the batch
    docs' distinct shingle digests append to the postings ledger
    (doc_id, sid — 32-hex digests only, never shingle text) under the
    epoch id. The postings ledger is the SUFFICIENT STATISTIC for
    first-occurrence novelty: ownership (min doc_id per sid) is a
    serve-time fold of an associative-commutative min, so the ingest
    stays append-only — the LSM/delta shape where per-batch work is one
    cheap exactly-once append and compaction is deferred — and the
    drained result is independent of micro-batch order by algebra. (The
    eager alternative — min-MERGE an owner ledger per batch, as
    ``fold_dedup_batch`` does for keeper ids — costs a transactional
    rewrite per batch for state this query only needs at serve time.)

    Exactly-once: ``idempotent_append`` under the epoch id; a replayed
    epoch re-skips. Per-batch work is O(batch shingles) hashing + one
    digest-only append — nothing global recomputes.

    DELIVERY (r13: redelivery-proof end to end): epoch REPLAY is a
    no-op via ``idempotent_append``; a document re-delivered under a
    NEW epoch id (an at-least-once source) appends its postings twice,
    and the serve fold (``novelty_from_postings``) now dedupes
    (sid, doc_id) BY DEFAULT before the aggregates — a no-op on
    contract-clean ledgers (per-doc shingles are array_distinct), an
    exact cancellation otherwise. Pinned by
    ``test_stream_novelty_redelivery``."""
    from data_pipeline_with_spark_spark.lake.versioned import retry_on_conflict
    from data_pipeline_with_spark_spark.llm.dedup import with_shingles

    post = exploded(
        with_shingles(batch_df.select("doc_id", "text"), k=k_shingle),
        [F.col("doc_id").cast("long").alias("doc_id")],
        "shingles",
        "__s",
    ).select("doc_id", F.md5(F.col("__s")).alias("sid"))
    return retry_on_conflict(
        lambda: postings.idempotent_append(
            post, app_id="stream_novelty_postings", batch_id=epoch_id
        )
    )


def run_stream_novelty(spark: SparkSession, sf_dir: str, work_dir: str):
    """STREAMING first-occurrence novelty — the incremental face of
    ``dedup.novelty_scores``: documents arrive in micro-batches, each
    batch pays its own shingle hashing once and appends digests-only
    postings exactly-once; the serving query at drain folds ownership
    (min doc_id per sid — associative, so ANY batch order drains to the
    same table) and scores every doc seen so far. Drained result ≡ the
    batch novelty aggregate bit-for-bit.

    Scale shape: per batch O(batch shingles) hashing + one append; the
    drain serve is one digest-keyed min aggregate + one digest-keyed
    join over state of size O(corpus doc-shingle pairs) — the same
    accepted state shape as the near-dup band ledger (which also keeps
    all its triples)."""
    spark = streaming_session(spark)
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    work = Path(work_dir)
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    postings = VersionedTable(spark, str(work / "postings")).create(
        spark.createDataFrame([], NOVELTY_POSTINGS_SCHEMA)
    )
    with _staged_stream(spark, docs, str(work / "staging")) as stream:
        _drain(stream, sink=partial(fold_novelty_batch, postings))
    # Serve at drain through the SAME code as the batch twin
    # (dedup.novelty_from_postings) — the pinned stream == batch
    # bit-equality is enforced structurally, not by hand-synced copies.
    from data_pipeline_with_spark_spark.llm.dedup import novelty_from_postings

    return novelty_from_postings(postings.read(), id_col="doc_id")
