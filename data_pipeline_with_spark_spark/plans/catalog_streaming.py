"""Streaming-window query catalog (SURVEY §2.13): the batch-checkable
faces of the streaming operators. The identical window expressions run
under readStream in streaming/demo.py (pytest asserts equivalence).

Oracle notes: Spark tumbling/sliding windows align to the unix epoch →
DuckDB floor(epoch/w)*w arithmetic; session windows are half-open
(new session at exactly prev + gap → ``>=`` in the gaps-and-islands
formulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_with_spark_spark.plans.registry import QuerySpec, register
from data_pipeline_with_spark_spark.util import exploded
from data_pipeline_with_spark_spark.sources.readers import read_testdata
from data_pipeline_with_spark_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


def _tumbling(spark: SparkSession, sf: str) -> DataFrame:
    return tumbling_window_agg(read_testdata(spark, sf, "events"))


register(
    QuerySpec(
        name="stream_tumbling_window",
        build=_tumbling,
        headline=True,
        doc="10-minute tumbling event-time windows (batch face)",
        oracle="""
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1
        """,
    )
)


def _sliding(spark: SparkSession, sf: str) -> DataFrame:
    return sliding_window_agg(read_testdata(spark, sf, "events"))


register(
    QuerySpec(
        name="stream_sliding_window",
        build=_sliding,
        doc="10-minute windows sliding every 5 (each event in 2 windows)",
        oracle="""
        WITH expanded AS (
          SELECT e.*, CAST(floor(epoch(ts) / 300) * 300 - off AS BIGINT) AS win_start
          FROM events e, (SELECT unnest([0, 300]) AS off)
          WHERE epoch(ts) >= floor(epoch(ts) / 300) * 300 - off
            AND epoch(ts) < floor(epoch(ts) / 300) * 300 - off + 600
        )
        SELECT win_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM expanded GROUP BY 1
        """,
    )
)


def _session(spark: SparkSession, sf: str) -> DataFrame:
    return session_window_agg(read_testdata(spark, sf, "events"))


register(
    QuerySpec(
        name="stream_session_window",
        build=_session,
        doc="per-user session windows, 5-minute inactivity gap",
        oracle="""
        WITH e AS (SELECT user_id, value, epoch(ts) AS t FROM events),
        l AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt FROM e),
        g AS (SELECT *, sum(CASE WHEN pt IS NULL OR t - pt >= 300 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
              FROM l)
        SELECT user_id,
               CAST(floor(min(t)) AS BIGINT) AS sess_start,
               CAST(floor(max(t) + 300) AS BIGINT) AS sess_end,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM g GROUP BY user_id, sid
        """,
    )
)


def _stream_matview(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed incremental matview (readStream -> foreachBatch
    -> idempotent append + CDF refresh, 4 real micro-batches) whose
    final state must equal the plain batch aggregate — so the whole
    exactly-once composition is DuckDB-hash-checkable."""
    import tempfile

    from data_pipeline_with_spark_spark.streaming.demo import run_stream_matview

    _, view = run_stream_matview(spark, sf, tempfile.mkdtemp(prefix="stream_mv_"))
    return view.read().select("user_id", "sum_value_cents", "n_rows")


register(
    QuerySpec(
        name="stream_incremental_matview",
        build=_stream_matview,
        doc="continuously-maintained materialized view: 4 micro-batches of "
        "transactional append + CDF fold; oracle is the batch aggregate the "
        "stream must converge to",
        oracle="""
        SELECT user_id,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents,
               count(*) AS n_rows
        FROM events
        GROUP BY user_id
        """,
    )
)


def _stream_psi(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed drift monitor: per-type 10-bin histograms fold
    in GroupState across 4 real micro-batches (applyInPandasWithState);
    the drained stream's final PSI per type must equal the batch
    events_psi_drift — same reference half, same Laplace smoothing —
    so the DuckDB batch SQL is the oracle for a genuinely stateful
    streaming computation."""
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_psi_drift

    out = run_streaming_psi_drift(spark, sf, tempfile.mkdtemp(prefix="psi_stream_"))
    # the batch formulation drops types absent from either half
    out = out.where((F.col("n_first_half") > 0) & (F.col("n_second_half") > 0))
    # Recompute PSI from the drained histograms with Catalyst
    # expressions: the operator's in-Python float loop can differ from
    # SQL SUM by 1 ulp in the 6th decimal; the exploded-bins formulation
    # is the SAME plan shape as the batch twin and hashes identically.
    bins = out.select(
        "event_type",
        "n_first_half",
        "n_second_half",
        F.posexplode(F.arrays_zip("ref_bins", "live_bins")).alias("bin", "c"),
    )
    pa = (F.col("c.ref_bins") + 0.5) / (F.col("n_first_half") + 5.0)
    pb = (F.col("c.live_bins") + 0.5) / (F.col("n_second_half") + 5.0)
    return bins.groupBy("event_type", "n_first_half", "n_second_half").agg(
        F.round(F.sum((pb - pa) * F.log(pb / pa)), 6).alias("psi")
    ).select("event_type", "n_first_half", "n_second_half", "psi")


register(
    QuerySpec(
        name="stream_psi_drift",
        build=_stream_psi,
        doc="stateful streaming PSI drift monitor (GroupState histograms, "
        "bounded O(types x bins) state); oracle = the batch PSI it converges to",
        oracle="""
    WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events),
    mid AS (SELECT (min(es) + max(es)) / 2 AS m FROM e),
    b AS (SELECT event_type,
                 CASE WHEN es <= m THEN 0 ELSE 1 END AS half,
                 CAST(least(floor(value / 50), 9) AS INT) AS bin
          FROM e CROSS JOIN mid),
    c AS (SELECT event_type, half, bin, count(*) AS n
          FROM b GROUP BY event_type, half, bin),
    tot AS (SELECT event_type, half, sum(n) AS t
            FROM c GROUP BY event_type, half),
    grid AS (SELECT DISTINCT b.event_type, h.half, v.bin
             FROM b
             CROSS JOIN (SELECT 0 AS half UNION ALL SELECT 1) h
             CROSS JOIN (SELECT 0 AS bin UNION ALL SELECT 1 UNION ALL
                         SELECT 2 UNION ALL SELECT 3 UNION ALL
                         SELECT 4 UNION ALL SELECT 5 UNION ALL
                         SELECT 6 UNION ALL SELECT 7 UNION ALL
                         SELECT 8 UNION ALL SELECT 9) v),
    p AS (SELECT g.event_type, g.half, g.bin,
                 (coalesce(c.n, 0) + 0.5) / (tot.t + 5.0) AS p
          FROM grid g
          LEFT JOIN c ON g.event_type = c.event_type
                     AND g.half = c.half AND g.bin = c.bin
          JOIN tot ON g.event_type = tot.event_type AND g.half = tot.half),
    pair AS (SELECT a.event_type, a.bin, a.p AS pa, z.p AS pb
             FROM p a JOIN p z ON a.event_type = z.event_type
                              AND a.bin = z.bin
             WHERE a.half = 0 AND z.half = 1)
    SELECT pair.event_type,
           CAST(t0.t AS BIGINT) AS n_first_half,
           CAST(t1.t AS BIGINT) AS n_second_half,
           round(sum((pb - pa) * ln(pb / pa)), 6) AS psi
    FROM pair
    JOIN tot t0 ON pair.event_type = t0.event_type AND t0.half = 0
    JOIN tot t1 ON pair.event_type = t1.event_type AND t1.half = 1
    GROUP BY pair.event_type, t0.t, t1.t
        """,
    )
)


def _stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed corpus dedup (see demo.run_stream_dedup): 4
    micro-batches of documents fold into a transactional dedup ledger
    via MERGE — keeper = least(doc_id), counts accumulate. least/+ are
    commutative, so the drained ledger equals the batch exact-dedup
    aggregate regardless of micro-batch order; the oracle hashes that
    equality."""
    import tempfile

    from data_pipeline_with_spark_spark.streaming.demo import run_stream_dedup

    ledger = run_stream_dedup(spark, sf, tempfile.mkdtemp(prefix="stream_dedup_"))
    return ledger.read().select("text_hash", "keeper_id", "n_copies")


register(
    QuerySpec(
        name="stream_dedup_exact",
        build=_stream_dedup,
        doc="streaming corpus dedup: micro-batches MERGE into a hash-keyed "
        "ledger (crawl-snapshot shape); oracle = the batch exact-dedup "
        "aggregate the stream must converge to",
        oracle="""
        SELECT md5(text) AS text_hash,
               CAST(min(doc_id) AS BIGINT) AS keeper_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
        """,
    )
)


def _stream_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING MinHash-LSH near-dup (see demo.run_stream_near_dup):
    4 micro-batches probe a band-hash ledger; the accumulated pairs
    table must equal the batch LSH candidate set — hash-checked against
    the identical DuckDB formulation used by dedup_minhash_lsh_pairs."""
    import tempfile

    from data_pipeline_with_spark_spark.streaming.demo import run_stream_near_dup

    _, pairs = run_stream_near_dup(spark, sf, tempfile.mkdtemp(prefix="stream_nd_"))
    return pairs.read().select("id_a", "id_b")


def _stream_near_dup_oracle() -> str:
    # identical formulation to dedup_minhash_lsh_pairs' oracle (same
    # shingle/minhash/banding constants) — the stream must converge to
    # the batch candidate set. BIGINT casts match the ledger schema.
    from data_pipeline_with_spark_spark.plans.catalog_llm import (
        _BANDS,
        _BANDS_SQL,
        _MINHASH_SQL,
        _SHINGLES_SQL,
        _TOKS_SQL,
    )

    return f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM t),
        sig AS (SELECT doc_id, {_MINHASH_SQL} AS minhash FROM sh),
        bands AS (
          SELECT doc_id, j AS band_idx, ({_BANDS_SQL})[j] AS band_hash
          FROM sig, (SELECT unnest(generate_series(1, {_BANDS})) AS j)
        )
        SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a,
                        CAST(b.doc_id AS BIGINT) AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        WHERE a.doc_id < b.doc_id
        """


register(
    QuerySpec(
        name="stream_near_dup_pairs",
        build=_stream_near_dup,
        doc="streaming MinHash-LSH near-dup: micro-batches probe a band-hash "
        "ledger, pairs discovered when their later doc arrives; oracle = the "
        "batch LSH candidate set the stream must converge to",
        oracle=_stream_near_dup_oracle(),
    )
)


def _stream_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ANN-index maintenance (see demo.run_stream_ivfpq_ingest):
    the IVFPQ index builds on half the embeddings, the other half
    arrives in real micro-batches, each assigned/encoded under the
    frozen quantizers and appended exactly-once to the index\'s
    VersionedTable. The probe answers from the fully-ingested index.
    Approx ANN + iterative k-means aren\'t SQL-replayable, so the
    entry emits the bound-style topk_recall_summary (r14 verdict task
    1) against the exact L2 twin; pytest pins stream-built ==
    batch-built probe equality, replay idempotence and time travel."""
    import tempfile

    from data_pipeline_with_spark_spark.sources.readers import read_testdata
    from data_pipeline_with_spark_spark.streaming.demo import run_stream_ivfpq_ingest

    # lighter quantizer for the registry run: the per-query cost is
    # dominated by fixed costs — MLlib k-means fit, codegen of the
    # m x k_codes ADC expressions, and one transactional commit per
    # micro-batch — while the correctness contract (stream == batch
    # convergence, exactly-once) is independent of quantizer size AND
    # batch count (both pinned by pytest at full size: n_cells=16,
    # k_codes=16, 4 increments). So the registry face runs n_cells=8,
    # k_codes=8, one PQ iter, 2 increments — this was the slowest
    # catalog entry (12.2 s serial, r11) and the gate budget is 15 s.
    from data_pipeline_with_spark_spark.llm import similarity

    idx = run_stream_ivfpq_ingest(
        spark, sf, tempfile.mkdtemp(prefix="stream_ivfpq_"),
        n_cells=8, k_codes=8, pq_iters=1, n_increments=2,
    )
    emb = read_testdata(spark, sf, "embeddings")
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") < 5)
    approx = idx.probe(queries, k=5, n_probe=4)
    exact = similarity.brute_force_l2_topk(emb, queries, k=5)
    # floor 0.4: the registry face runs the LIGHTER quantizer
    # (n_cells=8, k_codes=8, 1 PQ iter — see above); measured r15
    # means 0.6-0.68 across sf0.001/0.01/0.1
    return similarity.topk_recall_summary(approx, exact, k=5, floor=0.4)


register(
    QuerySpec(
        name="stream_ivfpq_ingest",
        build=_stream_ivfpq,
        doc="streaming IVFPQ index maintenance: embeddings arrive in "
        "micro-batches, each PQ-encoded under frozen quantizers and "
        "appended exactly-once; probe = pruned ADC scan + exact re-rank; "
        "bound-style oracle (k distinct non-self rows per query + mean "
        "recall@5 >= 0.4 vs the exact L2 twin)",
        oracle="""
        SELECT vec_id AS query_id,
               CAST(5 AS BIGINT) AS n_returned,
               TRUE AS distinct_ok,
               TRUE AS no_self,
               TRUE AS recall_ok
        FROM embeddings WHERE vec_id < 5
        """,
    )
)


def _stream_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING quality curation (see demo.run_stream_quality_filter):
    the hashed-LR classifier trains once and FREEZES, 4 real
    micro-batches score under the frozen weights and rows above the
    corpus-mean threshold append exactly-once into the curated
    versioned table. Frozen weights + batch-independent scores mean the
    drained table equals the batch score-and-filter, which the oracle
    recomputes from scratch — unrolled-GD training included."""
    import tempfile

    from data_pipeline_with_spark_spark.streaming.demo import (
        run_stream_quality_filter,
    )

    curated, _ = run_stream_quality_filter(
        spark, sf, tempfile.mkdtemp(prefix="stream_qc_")
    )
    return curated.read().select("doc_id", "source", "quality_score")


def _stream_quality_oracle() -> str:
    from data_pipeline_with_spark_spark.plans.catalog_llm import _qc_oracle

    return _qc_oracle(
        n_buckets=64,
        iters=3,
        final="""
, thr AS (SELECT round(avg(quality_score), 6) AS t FROM sc)
SELECT doc_id, source, quality_score FROM sc, thr WHERE quality_score > t
""",
    )


register(
    QuerySpec(
        name="stream_quality_filter_ingest",
        build=_stream_quality_filter,
        doc="streaming quality curation: train-once/freeze hashed-LR filter, "
        "micro-batches score + threshold + exactly-once append; oracle "
        "replays training (unrolled GD) and the batch filter",
        oracle=_stream_quality_oracle(),
    )
)


def _stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed stream-stream inner join (see
    demo.run_stream_stream_join): clicks join purchases by user within
    1 hour AFTER the click; watermarks on BOTH sides + the time-range
    condition bound the join state. Inner-join results emit as matches
    arrive (no watermark-expiry dependence), so the drained sink equals
    the batch time-bounded join the oracle computes."""
    from data_pipeline_with_spark_spark.streaming.demo import run_stream_stream_join

    out = run_stream_stream_join(spark, sf)
    return out.select(
        "click_id", "user_id", "click_epoch", "purchase_epoch", "p_value"
    )


register(
    QuerySpec(
        name="stream_stream_join",
        build=_stream_stream_join,
        doc="stream-stream inner join (clicks x purchases within 1 h, "
        "watermark-bounded state); streaming-executed, oracle = the batch "
        "time-bounded join",
        oracle="""
        SELECT c.event_id AS click_id,
               c.user_id,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
               p.value AS p_value
        FROM events c
        JOIN events p
          ON p.user_id = c.user_id
         AND p.ts > c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        """,
    )
)


def _stream_hll(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed HyperLogLog: registers fold as incremental
    aggregation state across 4 real micro-batches (the mergeable-sketch
    property IS streaming-agg compatibility); the drained register table
    equals the batch registers bit-for-bit, so the batch HLL SQL is the
    oracle for a genuinely streaming-executed sketch."""
    import tempfile

    from data_pipeline_with_spark_spark.llm import sketches
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_hll

    regs = run_streaming_hll(spark, sf, tempfile.mkdtemp(prefix="hll_stream_"))
    return sketches.hll_estimate(
        regs, ["event_type"], include_register_count=True
    ).select("event_type", "n_buckets", "hll_est")


def _stream_hll_oracle() -> str:
    from data_pipeline_with_spark_spark.llm import sketches

    rho = sketches._rho_expr("substring(hx, 3, 6)")
    num = repr(sketches.HLL_NUMERATOR)
    m, two_p25 = sketches.HLL_M, 1 << sketches.HLL_RHO_MAX
    raw = f"{num} / CAST(sum_present + ({m} - n_present) * {two_p25} AS DOUBLE)"
    return f"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ), r AS (
      SELECT event_type, substring(hx, 1, 2) AS bucket, {rho} AS rho FROM h
    ), reg AS (
      SELECT event_type, bucket, max(rho) AS reg
      FROM r GROUP BY event_type, bucket
    )
    SELECT event_type, CAST(n_present AS BIGINT) AS n_buckets,
           round(CASE WHEN {raw} <= {2.5 * m} AND {m} - n_present > 0
                      THEN {float(m)} * ln({float(m)} / CAST({m} - n_present AS DOUBLE))
                      ELSE {raw} END, 4) AS hll_est
    FROM (
      SELECT event_type, count(*) AS n_present,
             sum(CAST(pow(2.0, {sketches.HLL_RHO_MAX} - reg) AS BIGINT)) AS sum_present
      FROM reg GROUP BY event_type
    ) GROUP BY event_type, n_present, sum_present
    """


register(
    QuerySpec(
        name="stream_hll_ingest",
        build=_stream_hll,
        doc="streaming HyperLogLog distinct-user registers as incremental "
        "aggregation state (4 micro-batches, complete mode); drained "
        "registers equal batch bit-for-bit -> batch SQL oracle",
        oracle=_stream_hll_oracle(),
    )
)


def _stream_cms(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed Count-Min: counters fold as incremental agg
    state across 4 micro-batches; the drained sketch answers the same
    top-20 probes as the batch entry, so the batch CMS SQL is the
    oracle (counter merge = +, exact under any micro-batch split)."""
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_with_spark_spark.llm import sketches, text
    from data_pipeline_with_spark_spark.sources.readers import read_testdata
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_cms

    sketch = run_streaming_cms(spark, sf, tempfile.mkdtemp(prefix="cms_stream_"))
    docs = read_testdata(spark, sf, "documents")
    cnt = (
        exploded(docs, [], text.tokens("text"), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    probes = cnt.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(20)
    est = sketches.cms_lookup(sketch, probes.select("token"))
    return probes.join(est, "token").select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


register(
    QuerySpec(
        name="stream_cms_ingest",
        build=_stream_cms,
        doc="streaming Count-Min token counters as incremental aggregation "
        "state (4 micro-batches, complete mode); drained counters equal "
        "batch bit-for-bit -> the batch CMS oracle",
        oracle=__import__(
            "data_pipeline_with_spark_spark.plans.catalog_sketches",
            fromlist=["_CMS_ORACLE"],
        )._CMS_ORACLE,
    )
)


def _stream_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed quantile sketch: histogram counters fold as
    incremental agg state across 4 micro-batches; the drained counters
    equal the batch `quantile_hist` bit-for-bit (counter merge = +), so
    the full batch quantile SQL — histogram, rank walk, interpolation,
    exact comparator — is the oracle for a genuinely streaming-built
    sketch."""
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_with_spark_spark.llm import sketches
    from data_pipeline_with_spark_spark.sources.readers import read_testdata
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_quantile

    hist = run_streaming_quantile(spark, sf, tempfile.mkdtemp(prefix="qh_stream_"))
    ests = sketches.quantile_estimate(hist).withColumn(
        "r", F.expr("(q_pct * (n - 1)) div 100 + 1")
    )
    cents = "greatest(CAST(round(value * 100) AS BIGINT), CAST(1 AS BIGINT))"
    pts = read_testdata(spark, sf, "events").select(F.expr(cents).alias("v"))
    ranked = pts.withColumn("rn", F.row_number().over(Window.orderBy("v")))
    return (
        ranked.join(F.broadcast(ests), F.col("rn") == F.col("r"))
        .select(
            "q_pct",
            "n",
            "qh_est",
            F.col("v").alias("exact_cents"),
            F.round(
                F.abs(F.col("qh_est").cast("double") - F.col("v")) / F.col("v"), 4
            ).alias("rel_err"),
        )
    )


register(
    QuerySpec(
        name="stream_quantile_ingest",
        build=_stream_quantile,
        doc="streaming quantile-histogram counters as incremental "
        "aggregation state (4 micro-batches, complete mode); drained "
        "counters equal batch bit-for-bit -> the batch quantile oracle",
        oracle=__import__(
            "data_pipeline_with_spark_spark.plans.catalog_sketches",
            fromlist=["_qh_oracle"],
        )._qh_oracle(
            "SELECT greatest(CAST(round(value * 100) AS BIGINT), "
            "CAST(1 AS BIGINT)) AS v FROM events"
        ),
    )
)


def _stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING-executed dimension enrichment: events stream inner-
    joins the static customer dimension (broadcast, stateless) per
    micro-batch, then folds an integer agg per (segment, type). The
    third streaming-join shape next to `stream_stream_join`; drained
    complete-mode state equals the batch join+agg bit-for-bit."""
    import tempfile

    from data_pipeline_with_spark_spark.streaming.demo import (
        run_streaming_static_enrich,
    )

    return run_streaming_static_enrich(
        spark, sf, tempfile.mkdtemp(prefix="enrich_stream_")
    )


register(
    QuerySpec(
        name="stream_static_enrich",
        build=_stream_static_enrich,
        doc="stream-static enrichment join (events x broadcast customer "
        "dim, stateless per micro-batch) + integer agg per segment/type; "
        "streaming-executed, oracle = the batch join+agg",
        oracle="""
        SELECT c.c_mktsegment, e.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
        """,
    )
)


def _stream_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING first-occurrence novelty (see demo.run_stream_novelty):
    4 real micro-batches append digests-only postings and min-MERGE the
    owner ledger; novelty is served at drain from the two ledgers.
    Ownership is a min-fold, so the drained result equals the batch
    `dedup_novelty_scores` aggregate in ANY micro-batch order — the
    oracle is literally the batch entry's SQL."""
    import tempfile

    from data_pipeline_with_spark_spark.streaming.demo import (
        run_stream_novelty,
    )

    return run_stream_novelty(
        spark, sf, tempfile.mkdtemp(prefix="stream_novelty_")
    )


def _stream_novelty_oracle() -> str:
    from data_pipeline_with_spark_spark.plans.catalog_llm import (
        _NOVELTY_ORACLE,
    )

    return _NOVELTY_ORACLE


register(
    QuerySpec(
        name="stream_novelty_ingest",
        build=_stream_novelty,
        doc="streaming first-occurrence novelty: per-batch shingle hashing, "
        "digests-only postings append + min-MERGE owner ledger (exactly-"
        "once, order-independent by algebra); drained serve ≡ batch "
        "novelty bit-for-bit",
        oracle=_stream_novelty_oracle(),
    )
)
