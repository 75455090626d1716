"""True-streaming checks: the streaming plan must produce the same
result as its batch face, and the custom stateful operator must match a
plain aggregation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.sources.readers import read_testdata
from data_pipeline_with_spark_spark.streaming import demo, windows


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_tumbling_stream_equals_batch(spark, sf_dir):
    batch = windows.tumbling_window_agg(read_testdata(spark, sf_dir, "events"))
    stream = demo.run_windowed_stream(spark, sf_dir, windows.tumbling_window_agg)
    assert _rows(stream, "win_start") == _rows(batch, "win_start")


def test_stateful_user_stats_equals_batch(spark, sf_dir):
    stream = demo.run_stateful_user_stats(spark, sf_dir)
    batch = (
        read_testdata(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert _rows(stream, "user_id") == _rows(batch, "user_id")


def test_streaming_dedup_equals_batch(spark, sf_dir):
    stream = demo.run_streaming_dedup(spark, sf_dir)
    batch = (
        read_testdata(spark, sf_dir, "events")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    assert _rows(stream, "user_id", "event_type") == _rows(batch, "user_id", "event_type")


def test_streaming_entries_leave_no_temp_views(spark, sf_dir, tmp_path):
    # Each memory-sink drain registers a temp view on the streaming
    # session; the entries must drop theirs, also when built twice.
    catalog = demo.streaming_session(spark).catalog

    def temp_views():
        return {t.name for t in catalog.listTables() if t.isTemporary}

    before = temp_views()
    demo.run_streaming_dedup(spark, sf_dir)
    demo.run_streaming_dedup(spark, sf_dir)
    demo.run_stream_stream_join(spark, sf_dir)
    demo.run_stateful_user_stats(spark, sf_dir)
    demo.run_streaming_psi_drift(spark, sf_dir, str(tmp_path))
    assert temp_views() - before == set()


def test_sliding_stream_equals_batch(spark, sf_dir):
    batch = windows.sliding_window_agg(read_testdata(spark, sf_dir, "events"))
    stream = demo.run_windowed_stream(spark, sf_dir, windows.sliding_window_agg)
    assert _rows(stream, "win_start") == _rows(batch, "win_start")


def test_session_stream_equals_batch(spark, sf_dir):
    batch = windows.session_window_agg(read_testdata(spark, sf_dir, "events"))
    stream = demo.run_windowed_stream(spark, sf_dir, windows.session_window_agg)
    assert _rows(stream, "user_id", "sess_start") == _rows(batch, "user_id", "sess_start")


def test_stream_into_lakehouse_equals_batch(spark, sf_dir, tmp_path):
    table = demo.run_stream_into_lakehouse(spark, sf_dir, str(tmp_path / "hourly"))
    batch = windows.tumbling_window_agg(
        read_testdata(spark, sf_dir, "events"), window="1 hour"
    )
    assert _rows(table.read(), "win_start") == _rows(batch, "win_start")
    assert len(table.history()) >= 1  # each micro-batch = one commit


def test_stream_stream_join_equals_batch(spark, sf_dir):
    stream = demo.run_stream_stream_join(spark, sf_dir)
    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id", "ts AS click_ts"
    )
    purchases = ev.where("event_type = 'purchase'").selectExpr(
        "user_id AS p_user", "ts AS p_ts", "value AS p_value"
    )
    batch = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user)
        & (purchases.p_ts > clicks.click_ts)
        & (purchases.p_ts <= F.expr("click_ts + INTERVAL 1 HOUR")),
        "inner",
    ).selectExpr(
        "click_id",
        "user_id",
        "unix_timestamp(click_ts) AS click_epoch",
        "unix_timestamp(p_ts) AS purchase_epoch",
        "p_value",
    )
    assert _rows(stream, "click_id", "purchase_epoch") == _rows(
        batch, "click_id", "purchase_epoch"
    )


def test_transform_with_state_equals_batch(spark, sf_dir):
    # transformWithState's state server speaks protobuf; this container
    # ships no google.protobuf, so the API can only run where it exists.
    pytest.importorskip("google.protobuf")
    stream = demo.run_transform_with_state(spark, sf_dir)
    batch = (
        read_testdata(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert _rows(stream, "user_id") == _rows(batch, "user_id")


def test_stream_stream_left_join_eviction_semantics(spark, sf_dir):
    # LEFT OUTER stream-stream join: matched rows equal the batch face;
    # null-padded rows appear exactly for unmatched clicks whose join
    # window the final watermark passed (state eviction) — later clicks
    # are still in state at termination and emit nothing.
    stream = demo.run_stream_stream_left_join(spark, sf_dir)

    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    batch = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user)
        & (purchases.p_ts > clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "click_id",
        "user_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
        "p_value",
    )
    # global watermark at termination: min of both inputs' (max ts - 1h)
    max_click = clicks.agg(F.max(F.unix_timestamp("click_ts"))).collect()[0][0]
    max_p = purchases.agg(F.max(F.unix_timestamp("p_ts"))).collect()[0][0]
    final_wm = min(max_click, max_p) - 3600

    s_matched = {tuple(r) for r in stream.where("purchase_epoch IS NOT NULL").collect()}
    b_matched = {tuple(r) for r in batch.where("purchase_epoch IS NOT NULL").collect()}
    assert s_matched == b_matched and s_matched

    s_nulls = {tuple(r) for r in stream.where("purchase_epoch IS NULL").collect()}
    b_evictable = {
        tuple(r)
        for r in batch.where(
            f"purchase_epoch IS NULL AND click_epoch + 3600 < {final_wm}"
        ).collect()
    }
    b_all_nulls = {tuple(r) for r in batch.where("purchase_epoch IS NULL").collect()}
    assert b_evictable and s_nulls
    # every provably-evictable unmatched click emitted a null row, and
    # nothing outside the batch null set ever appears
    assert b_evictable <= s_nulls <= b_all_nulls


def test_rate_limited_stream_respects_rate(spark):
    out = demo.run_rate_limited_stream(spark, rows_per_second=400, min_batches=2)
    rows = out.collect()
    assert rows, "no micro-batch output arrived"
    assert rows[0].n_trigger_batches >= 2  # multiple paced triggers ran
    # source-side rate limiting: no event-time second exceeds the cap
    # (2x headroom for second-boundary jitter on the first/last bucket)
    assert max(r.n_rows for r in rows) <= 400 * 2
    assert sum(r.n_rows for r in rows) > 0


def test_stream_matview_equals_batch_recompute(spark, sf_dir, tmp_path):
    # Continuously-maintained aggregate view: 4 micro-batches stream
    # into the base table, the view CDF-refreshes after each, and the
    # final view must equal a full recompute over all events.
    base, view = demo.run_stream_matview(spark, sf_dir, str(tmp_path / "mv"))
    assert len(base.history()) >= 4  # one commit per micro-batch
    got = {
        r.user_id: (r.sum_value_cents, r.n_rows) for r in view.read().collect()
    }
    want = {
        r.user_id: (r.s, r.n)
        for r in base.read()
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.coalesce("value_cents", F.lit(0))), F.lit(0)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want
    # watermark tracked the final base version (exactly-once bookkeeping)
    assert view.last_synced_version() == base._latest().version


def test_streaming_psi_drift_equals_batch(spark, sf_dir, tmp_path):
    # The stateful streaming drift monitor (GroupState histograms over 4
    # micro-batches) must converge to exactly the batch PSI numbers.
    from data_pipeline_with_spark_spark.plans import all_queries
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_psi_drift

    import pytest as _pytest

    raw = {
        r.event_type: (r.n_first_half, r.n_second_half, r.psi)
        for r in run_streaming_psi_drift(spark, sf_dir, str(tmp_path)).collect()
    }
    batch = {
        r.event_type: (r.n_first_half, r.n_second_half, r.psi)
        for r in all_queries()["events_psi_drift"].build(spark, sf_dir).collect()
    }
    assert len(batch) > 0 and raw.keys() == batch.keys()
    for et, (n0, n1, psi) in batch.items():
        assert raw[et][0] == n0 and raw[et][1] == n1
        # the operator's in-Python monitor value is 1-ulp-tolerant…
        assert raw[et][2] == _pytest.approx(psi, abs=1e-5)
    # …and the REGISTERED query (Catalyst recompute from the drained
    # histograms) agrees on counts exactly and on psi to float-sum
    # reassociation tolerance (each formulation is bit-matched against
    # its OWN DuckDB oracle by check_oracle; the two formulations sum
    # the 10 bin terms in different orders, so 1-ulp spread in the 6th
    # decimal between them is expected)
    reg = {
        r.event_type: (r.n_first_half, r.n_second_half, r.psi)
        for r in all_queries()["stream_psi_drift"].build(spark, sf_dir).collect()
    }
    assert reg.keys() == batch.keys()
    for et, (n0, n1, psi) in batch.items():
        assert reg[et][0] == n0 and reg[et][1] == n1
        assert reg[et][2] == _pytest.approx(psi, abs=2e-6)


def test_stream_dedup_equals_batch_and_replay_noop(spark, sf_dir, tmp_path):
    # Streaming corpus dedup: the drained ledger equals the batch
    # exact-dedup aggregate; a foreachBatch replay (same epoch id) is a
    # no-op — the ledger's batch watermark rides the merge commit.
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_BATCH_PROP,
        fold_dedup_batch,
        run_stream_dedup,
    )

    ledger = run_stream_dedup(spark, sf_dir, str(tmp_path / "sd"))
    # one commit per staged file on top of the create, and the staged
    # copy is gone once the stream has drained
    assert len(ledger.history()) == 1 + 4
    assert not (tmp_path / "sd" / "staging").exists()
    got = {(r.text_hash, r.keeper_id, r.n_copies) for r in ledger.read().collect()}
    docs = read_testdata(spark, sf_dir, "documents")
    want = {
        (r.text_hash, r.keeper_id, r.n_copies)
        for r in docs.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .collect()
    }
    assert got == want and len(got) > 0
    # replay of the last epoch: no-op (no new commit, state unchanged)
    last_epoch = int(ledger.table_properties()[DEDUP_BATCH_PROP])
    v = ledger._latest().version
    applied = fold_dedup_batch(ledger, docs.select("doc_id", "text").limit(5), last_epoch)
    assert applied is False and ledger._latest().version == v
    # a genuinely new epoch re-sending already-seen docs exercises the
    # WhenMatched path: counts bump by exactly 1, keepers never regress
    # (least() is commutative)
    replay_docs = docs.select("doc_id", "text").orderBy("doc_id").limit(5)
    replayed = {r[0] for r in replay_docs.select(F.md5("text")).collect()}
    assert fold_dedup_batch(ledger, replay_docs, last_epoch + 1) is True
    base = {h: (k, c) for h, k, c in got}
    after = {r.text_hash: (r.keeper_id, r.n_copies) for r in ledger.read().collect()}
    assert after.keys() == base.keys()
    for th, (kid, n) in after.items():
        assert kid == base[th][0]  # keeper stable
        assert n == base[th][1] + (1 if th in replayed else 0)


@pytest.mark.slow
def test_stream_dedup_order_independent(spark, tmp_path):
    # least/+ fold: folding batches in any order yields the same ledger.
    import itertools

    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_LEDGER_SCHEMA,
        fold_dedup_batch,
    )

    rows = [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "bb"), (6, "aa")]
    batches = [rows[0:2], rows[2:4], rows[4:6]]
    results = []
    for i, perm in enumerate(itertools.permutations(range(3))):
        t = VersionedTable(spark, str(tmp_path / f"ord{i}")).create(
            spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
        )
        for epoch, b in enumerate(perm):
            fold_dedup_batch(
                t, spark.createDataFrame(batches[b], "doc_id LONG, text STRING"), epoch
            )
        results.append(
            frozenset((r.text_hash, r.keeper_id, r.n_copies) for r in t.read().collect())
        )
    assert len(set(results)) == 1  # all 6 orders agree
    assert any(n == 3 for _, _, n in results[0])  # "aa" counted thrice


@pytest.mark.slow
def test_stream_near_dup_order_independent_and_crash_safe(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm.dedup import minhash_candidate_pairs
    from data_pipeline_with_spark_spark.streaming.demo import (
        _band_triples,
        _candidate_pairs,
        fold_near_dup_batch,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (3, "totally different words here now"),
        (4, "alpha beta gamma delta zeta"),      # near dup of 1/2
        (5, "totally different words here now"), # dup of 3
        (6, "unrelated content entirely fresh"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    want = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, num_hashes=16, bands=8).collect()
    }
    assert len(want) >= 2  # dups exist by construction

    def make_tables(tag):
        bl = VersionedTable(spark, str(tmp_path / f"b{tag}")).create(
            spark.createDataFrame([], "band_idx INT, band_hash STRING, doc_id BIGINT")
        )
        pt = VersionedTable(spark, str(tmp_path / f"p{tag}")).create(
            spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
        )
        return bl, pt

    batches = [rows[0:2], rows[2:4], rows[4:6]]
    import itertools

    results = []
    for i, perm in enumerate(itertools.permutations(range(3))):
        bl, pt = make_tables(f"o{i}")
        for epoch, bi in enumerate(perm):
            fold_near_dup_batch(
                bl, pt, spark.createDataFrame(batches[bi], "doc_id LONG, text STRING"),
                epoch, num_hashes=16, bands=8,
            )
        results.append(frozenset((r.id_a, r.id_b) for r in pt.read().collect()))
    assert len(set(results)) == 1  # all 6 orders agree
    assert results[0] == frozenset(want)  # and equal the batch answer

    # crash between the pairs append and the bands append: replaying the
    # epoch must skip the already-applied pairs and apply only the
    # missing bands — converging to the clean two-fold state.
    bl, pt = make_tables("crash")
    b0 = spark.createDataFrame(batches[0], "doc_id LONG, text STRING")
    b1 = spark.createDataFrame(batches[1], "doc_id LONG, text STRING")
    fold_near_dup_batch(bl, pt, b0, 0, num_hashes=16, bands=8)
    # simulate the torn epoch 1: pairs landed, bands did not
    cand = _candidate_pairs(_band_triples(b1, 3, 16, 8), bl.read())
    pt.idempotent_append(cand, app_id="stream_near_dup_pairs", batch_id=1)
    pairs_after_crash = {(r.id_a, r.id_b) for r in pt.read().collect()}
    ledger_v = bl._latest().version
    # replay epoch 1 through the real fold
    applied = fold_near_dup_batch(bl, pt, b1, 1, num_hashes=16, bands=8)
    assert applied is False  # pairs append was skipped
    assert {(r.id_a, r.id_b) for r in pt.read().collect()} == pairs_after_crash
    assert bl._latest().version == ledger_v + 1  # bands append DID apply
    # epoch 2 on the healed state completes the batch answer
    fold_near_dup_batch(
        bl, pt, spark.createDataFrame(batches[2], "doc_id LONG, text STRING"),
        2, num_hashes=16, bands=8,
    )
    assert {(r.id_a, r.id_b) for r in pt.read().collect()} == want


def test_fold_near_dup_unpersists_batch_state(spark, tmp_path):
    """r15: the fold persists its per-batch band triples (the subtree
    feeds three evaluations); the cache must NOT leak across folds —
    accumulating per-batch state would eventually evict executor
    memory on a long-running stream. Covers both the applied and the
    replay-skip (applied=False) paths."""
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.streaming.demo import fold_near_dup_batch

    bl = VersionedTable(spark, str(tmp_path / "b")).create(
        spark.createDataFrame([], "band_idx INT, band_hash STRING, doc_id BIGINT")
    )
    pt = VersionedTable(spark, str(tmp_path / "p")).create(
        spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id LONG, text STRING",
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert fold_near_dup_batch(bl, pt, docs, 0, num_hashes=16, bands=8) is True
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    # replaying the same epoch takes the skip path — still no leak
    assert fold_near_dup_batch(bl, pt, docs, 0, num_hashes=16, bands=8) is False
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_stream_dedup_null_text_folds_into_one_group(spark, tmp_path):
    # md5(NULL) is NULL and the batch aggregate (and the DuckDB oracle's
    # GROUP BY md5(text)) makes NULL texts ONE group — the ledger MERGE
    # must match that row null-safely instead of inserting a fresh
    # NULL-hash row per micro-batch (r7 review finding).
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm.dedup import exact_dedup_groups
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_LEDGER_SCHEMA,
        fold_dedup_batch,
    )

    rows = [(1, None), (2, "aa"), (3, None), (4, "aa"), (5, None), (6, "bb")]
    batches = [rows[0:2], rows[2:4], rows[4:6]]
    t = VersionedTable(spark, str(tmp_path / "nulls")).create(
        spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
    )
    for epoch, b in enumerate(batches):
        fold_dedup_batch(
            t, spark.createDataFrame(b, "doc_id LONG, text STRING"), epoch
        )
    got = {(r.text_hash, r.keeper_id, r.n_copies) for r in t.read().collect()}
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    want = {
        (r.text_hash, r.keeper_id, r.n_copies)
        for r in exact_dedup_groups(docs).collect()
    }
    assert got == want
    assert (None, 1, 3) in got  # the single NULL group, folded across batches


@pytest.mark.slow
def test_stream_ivfpq_ingest_equals_batch_built_index(spark, sf_dir, tmp_path):
    # Streamed index (4 micro-batch increments under frozen quantizers)
    # must probe identically to the same base index with the arriving
    # half appended in ONE batch — batch-count independence through a
    # REAL stream, plus one-commit-per-batch accounting.
    from pyspark.sql import functions as F

    from data_pipeline_with_spark_spark.llm.similarity import VersionedIvfPqIndex
    from data_pipeline_with_spark_spark.sources.readers import read_testdata
    from data_pipeline_with_spark_spark.streaming.demo import run_stream_ivfpq_ingest

    idx = run_stream_ivfpq_ingest(spark, sf_dir, str(tmp_path / "s"))
    emb = read_testdata(spark, sf_dir, "embeddings")
    assert idx.table.read().count() == emb.count()
    # one index commit per micro-batch rode the stream (v0 = build)
    assert idx.table._latest().version >= 4

    twin = VersionedIvfPqIndex.build(
        emb.where("vec_id % 2 = 0"), str(tmp_path / "b"),
        n_cells=16, m=8, k_codes=16, pq_iters=2,
    )
    twin.append(emb.where("vec_id % 2 = 1"))
    queries = emb.where(F.col("vec_id") < 5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(idx.probe(queries, k=5, n_probe=4))
    assert got == rows(twin.probe(queries, k=5, n_probe=4)) and got


def test_maintain_stream_dedup_state_heals_and_reclaims(spark, tmp_path):
    # The first-class maintenance entry point: OPTIMIZE (zorder on each
    # ledger's probe key) + retention-guarded vacuum, runnable beside an
    # active stream. State must be unchanged, exactly-once accounting
    # intact across the maintenance commits, small files healed, and
    # superseded per-batch dirs reclaimed.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm.dedup import exact_dedup_groups
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_LEDGER_SCHEMA,
        fold_dedup_batch,
        maintain_stream_dedup_state,
    )

    rows = [
        (1, "aaa"), (2, "aaa"), (3, "bbb"),
        (4, "bbb"), (5, "ccc"), (6, "aaa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    ledger = VersionedTable(spark, str(tmp_path / "led")).create(
        spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
    )
    batches = [rows[0:2], rows[2:4], rows[4:6]]
    for epoch, b in enumerate(batches[:2]):
        assert fold_dedup_batch(
            ledger, spark.createDataFrame(b, "doc_id LONG, text STRING"), epoch
        )
    stats = maintain_stream_dedup_state(
        ledger=ledger, orphan_retention_seconds=0
    )["ledger"]
    assert stats["vacuumed_dirs"] > 0  # per-batch dirs reclaimed
    assert stats["files_after"] <= stats["files_before"]
    # the stream keeps folding through the maintenance commits...
    assert fold_dedup_batch(
        ledger, spark.createDataFrame(batches[2], "doc_id LONG, text STRING"), 2
    )
    # ...and a replayed epoch still no-ops (watermark rode the chain)
    assert not fold_dedup_batch(
        ledger, spark.createDataFrame(batches[2], "doc_id LONG, text STRING"), 2
    )
    got = {
        (r.text_hash, r.keeper_id, r.n_copies) for r in ledger.read().collect()
    }
    want = {
        (r.text_hash, r.keeper_id, r.n_copies)
        for r in exact_dedup_groups(docs).collect()
    }
    assert got == want


def test_maintain_near_dup_twin_state(spark, tmp_path):
    # Same maintenance entry point over the near-dup twin's two tables;
    # folds after maintenance must still discover each pair exactly once.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm.dedup import minhash_candidate_pairs
    from data_pipeline_with_spark_spark.streaming.demo import (
        fold_near_dup_batch,
        maintain_stream_dedup_state,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta zeta"),
        (4, "one two three four five"),
        (5, "one two three four five"),
        (6, "totally different words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    want = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, num_hashes=16, bands=8).collect()
    }
    bl = VersionedTable(spark, str(tmp_path / "bands")).create(
        spark.createDataFrame([], "band_idx INT, band_hash STRING, doc_id BIGINT")
    )
    pt = VersionedTable(spark, str(tmp_path / "pairs")).create(
        spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    )
    batches = [rows[0:2], rows[2:4], rows[4:6]]
    for epoch, b in enumerate(batches):
        if epoch == 2:
            stats = maintain_stream_dedup_state(
                bands_ledger=bl, pairs_table=pt, orphan_retention_seconds=0
            )
            assert set(stats) == {"bands_ledger", "pairs_table"}
            assert stats["bands_ledger"]["vacuumed_dirs"] > 0
        assert fold_near_dup_batch(
            bl, pt, spark.createDataFrame(b, "doc_id LONG, text STRING"),
            epoch, num_hashes=16, bands=8,
        )
    assert {(r.id_a, r.id_b) for r in pt.read().collect()} == want


def test_stream_near_dup_survives_ledger_compaction(spark, tmp_path):
    # The band ledger grows one commit per micro-batch forever; OPTIMIZE
    # between batches (small-file healing, zorder on the probe key) is
    # purely physical, so folds before and after it must compose to the
    # same batch answer, and exactly-once accounting must see through
    # the interleaved maintenance commit.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm.dedup import minhash_candidate_pairs
    from data_pipeline_with_spark_spark.streaming.demo import fold_near_dup_batch

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta zeta"),
        (4, "one two three four five"),
        (5, "one two three four five"),
        (6, "totally different words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    want = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, num_hashes=16, bands=8).collect()
    }
    bl = VersionedTable(spark, str(tmp_path / "bands")).create(
        spark.createDataFrame([], "band_idx INT, band_hash STRING, doc_id BIGINT")
    )
    pt = VersionedTable(spark, str(tmp_path / "pairs")).create(
        spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    )
    batches = [rows[0:2], rows[2:4], rows[4:6]]
    for epoch, b in enumerate(batches):
        if epoch == 2:
            bl.optimize(zorder_by=["band_hash"])  # maintenance mid-stream
            pt.optimize()
        applied = fold_near_dup_batch(
            bl, pt, spark.createDataFrame(b, "doc_id LONG, text STRING"),
            epoch, num_hashes=16, bands=8,
        )
        assert applied is True
    # replay of the last epoch after maintenance commits still no-ops
    assert (
        fold_near_dup_batch(
            bl, pt, spark.createDataFrame(batches[2], "doc_id LONG, text STRING"),
            2, num_hashes=16, bands=8,
        )
        is False
    )
    assert {(r.id_a, r.id_b) for r in pt.read().collect()} == want


def test_maintenance_retries_lost_publish_race(spark, tmp_path, monkeypatch):
    # Deterministic O_EXCL-race simulation: the FIRST publish attempt of
    # the maintenance OPTIMIZE loses the slot race (CommitConflict); the
    # retry_on_conflict wrapper inside maintain_stream_dedup_state must
    # absorb it, re-commit, and leave state + accounting intact.
    from data_pipeline_with_spark_spark.lake.versioned import (
        CommitConflict,
        VersionedTable,
    )
    from data_pipeline_with_spark_spark.llm.dedup import exact_dedup_groups
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_LEDGER_SCHEMA,
        fold_dedup_batch,
        maintain_stream_dedup_state,
    )

    rows = [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "ccc")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    ledger = VersionedTable(spark, str(tmp_path / "led")).create(
        spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
    )
    assert fold_dedup_batch(ledger, docs, 0)

    real = VersionedTable._publish_commit.__func__
    calls = {"n": 0}

    def flaky(cls, tmp, target, version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflict(f"concurrent commit conflict at v{version}")
        return real(cls, tmp, target, version)

    monkeypatch.setattr(
        VersionedTable, "_publish_commit", classmethod(flaky)
    )
    stats = maintain_stream_dedup_state(
        ledger=ledger, orphan_retention_seconds=0
    )["ledger"]
    assert calls["n"] >= 2  # the conflict really fired and was retried
    got = {(r.text_hash, r.keeper_id, r.n_copies) for r in ledger.read().collect()}
    want = {
        (r.text_hash, r.keeper_id, r.n_copies)
        for r in exact_dedup_groups(docs).collect()
    }
    assert got == want and stats["files_after"] >= 1


def test_fold_retries_lost_publish_race(spark, tmp_path, monkeypatch):
    # Mirror image: the FOLD's merge loses the publish race once (as if
    # concurrent maintenance grabbed the slot); fold_dedup_batch retries
    # and the batch is applied exactly once.
    from data_pipeline_with_spark_spark.lake.versioned import (
        CommitConflict,
        VersionedTable,
    )
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_LEDGER_SCHEMA,
        fold_dedup_batch,
    )

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], "doc_id LONG, text STRING"
    )
    ledger = VersionedTable(spark, str(tmp_path / "led")).create(
        spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
    )
    real = VersionedTable._publish_commit.__func__
    calls = {"n": 0}

    def flaky(cls, tmp, target, version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflict(f"concurrent commit conflict at v{version}")
        return real(cls, tmp, target, version)

    monkeypatch.setattr(VersionedTable, "_publish_commit", classmethod(flaky))
    assert fold_dedup_batch(ledger, docs, 0) is True
    assert calls["n"] >= 2
    got = {(r.text_hash, r.n_copies) for r in ledger.read().collect()}
    assert got == {
        (r.text_hash, r.n_copies)
        for r in docs.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash").count()
        .select("text_hash", F.col("count").alias("n_copies")).collect()
    }


def test_maintenance_beside_active_folds(spark, tmp_path):
    # The docstring's "safe to run BESIDE an active stream" claim, run
    # for real: one thread folds micro-batches while the main thread
    # loops maintenance. Both sides retry lost publish races, so the
    # composed run must end with the exact batch-aggregate ledger and
    # every epoch applied exactly once.
    import threading

    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm.dedup import exact_dedup_groups
    from data_pipeline_with_spark_spark.streaming.demo import (
        DEDUP_LEDGER_SCHEMA,
        fold_dedup_batch,
        maintain_stream_dedup_state,
    )

    rows = [(i, ["aaa", "bbb", "ccc"][i % 3]) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    ledger = VersionedTable(spark, str(tmp_path / "led")).create(
        spark.createDataFrame([], DEDUP_LEDGER_SCHEMA)
    )
    batches = [rows[i : i + 3] for i in range(0, 12, 3)]
    applied: list[bool] = []
    errs: list[BaseException] = []

    def fold_all():
        try:
            for epoch, b in enumerate(batches):
                applied.append(
                    fold_dedup_batch(
                        ledger,
                        spark.createDataFrame(b, "doc_id LONG, text STRING"),
                        epoch,
                    )
                )
        except BaseException as e:  # surfaced to the main thread
            errs.append(e)

    t = threading.Thread(target=fold_all)
    t.start()
    # Maintenance loops until the folds finish. NB: default retention —
    # beside a live writer, retention 0 would collect the fold's
    # just-staged (not yet published) data dir AND rip superseded dirs
    # out from under the fold's in-flight snapshot reads (the
    # FileNotFound race this test originally caught, fixed by giving
    # superseded dirs the same retention window Delta's tombstones get).
    while t.is_alive():
        maintain_stream_dedup_state(ledger=ledger)
    t.join()
    assert not errs, errs
    assert applied == [True] * 4
    got = {(r.text_hash, r.keeper_id, r.n_copies) for r in ledger.read().collect()}
    want = {
        (r.text_hash, r.keeper_id, r.n_copies)
        for r in exact_dedup_groups(docs).collect()
    }
    assert got == want


def test_stream_quality_filter_equals_batch(spark, tmp_path):
    # The streamed curated table must equal the batch score-and-filter
    # under the same frozen weights/threshold, and every kept row
    # clears the threshold.
    from data_pipeline_with_spark_spark.llm import classifier
    from data_pipeline_with_spark_spark.sources.readers import read_testdata
    from data_pipeline_with_spark_spark.streaming.demo import (
        run_stream_quality_filter,
    )

    sf = "/root/testdata/sf0.001"
    curated, thr = run_stream_quality_filter(spark, sf, str(tmp_path / "qc"))
    got = {
        (r.doc_id, r.source, r.quality_score) for r in curated.read().collect()
    }
    docs = read_testdata(spark, sf, "documents").select("doc_id", "source", "text")
    w = classifier.train_quality_classifier(
        docs, F.col("source") == "src0", n_buckets=64, iters=3
    )
    want = {
        (r.doc_id, r.source, r.quality_score)
        for r in classifier.score_quality(docs, w)
        .where(F.col("quality_score") > thr)
        .select("doc_id", "source", "quality_score")
        .collect()
    }
    assert got == want and got  # non-empty and exactly the batch result
    assert all(s > thr for _, _, s in got)


def test_stream_static_enrich_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static dimension join: the drained complete-mode agg
    equals the batch join+agg bit-for-bit (integer counters), and the
    enrichment actually joins — every segment value comes from the
    customer dim."""
    stream = demo.run_streaming_static_enrich(
        spark, sf_dir, str(tmp_path / "enrich")
    )
    ev = read_testdata(spark, sf_dir, "events")
    cust = read_testdata(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        ev.join(cust, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                "value_cents"
            ),
        )
    )
    srows = sorted(map(tuple, stream.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows and len(srows) > 0
    segs = {r[0] for r in srows}
    dim_segs = {r.c_mktsegment for r in cust.select("c_mktsegment").distinct().collect()}
    assert segs <= dim_segs


def test_stream_novelty_equals_batch_and_replay_noop(spark, sf_dir, tmp_path):
    # Streaming novelty: the drained serve equals the batch
    # novelty_scores aggregate bit-for-bit (ownership is a serve-time
    # min-fold, so micro-batch order is irrelevant by algebra); a
    # replayed epoch re-skips via the postings batch watermark.
    from data_pipeline_with_spark_spark.llm import dedup
    from data_pipeline_with_spark_spark.streaming.demo import (
        fold_novelty_batch,
        run_stream_novelty,
    )

    out = run_stream_novelty(spark, sf_dir, str(tmp_path / "nv"))
    got = {
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty) for r in out.collect()
    }
    docs = read_testdata(spark, sf_dir, "documents")
    want = {
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in dedup.novelty_scores(docs).collect()
    }
    assert got == want and len(got) == docs.count()
    # replaying an already-folded epoch must be a no-op append
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    postings = VersionedTable(spark, str(tmp_path / "nv" / "postings"))
    before = postings.read().count()
    applied = fold_novelty_batch(postings, docs.limit(3), epoch_id=0)
    assert applied is False
    assert postings.read().count() == before


def test_stream_novelty_redelivery(spark, sf_dir, tmp_path):
    # r12 verdict task 5: a document re-delivered under a NEW epoch id
    # (at-least-once source) appends its postings twice; the default
    # serve dedupes (sid, doc_id) and must score identically to single
    # delivery, while assume_unique=True reproduces the old
    # double-counting path (this assertion is what fails pre-fix).
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm import dedup
    from data_pipeline_with_spark_spark.streaming.demo import (
        NOVELTY_POSTINGS_SCHEMA,
        fold_novelty_batch,
    )

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    some = docs.limit(5).localCheckpoint(eager=True)
    postings = VersionedTable(spark, str(tmp_path / "redeliver")).create(
        spark.createDataFrame([], NOVELTY_POSTINGS_SCHEMA)
    )
    assert fold_novelty_batch(postings, some, epoch_id=0) is not False
    # the SAME docs again under a fresh epoch id: idempotent_append
    # cannot skip it (new epoch), so the ledger now holds duplicates
    assert fold_novelty_batch(postings, some, epoch_id=1) is not False

    want = {
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in dedup.novelty_scores(some).collect()
    }
    got = {
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in dedup.novelty_from_postings(postings.read()).collect()
    }
    assert got == want  # default serve cancels the redelivery

    doubled = {
        r.doc_id: r.n_shingles
        for r in dedup.novelty_from_postings(
            postings.read(), assume_unique=True
        ).collect()
    }
    single = {r[0]: r[1] for r in want}
    assert doubled == {k: 2 * v for k, v in single.items()}
