"""Sketch operators: HLL register mergeability + estimate accuracy,
CMS overcount-only + mergeability, and the catalog entries' planted
invariants. The bit-level cross-engine replay is the oracle's job
(`sketch_hll_distinct_users`, `sketch_cms_token_counts`); here we pin
the algebraic properties that make the sketches safe to ship between
pipeline stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.llm import sketches
from data_pipeline_with_spark_spark.sources.readers import read_testdata

from tests.conftest import SF_SMOKE


def test_hll_registers_merge_by_max(spark):
    """Registers built from two disjoint halves, merged by max, must
    equal the registers of the whole — the property that lets partial
    sketches ship from every partition / micro-batch."""
    ev = read_testdata(spark, SF_SMOKE, "events")
    whole = sketches.hll_registers(ev, "user_id", ["event_type"])
    lo = sketches.hll_registers(ev.where("user_id % 2 = 0"), "user_id", ["event_type"])
    hi = sketches.hll_registers(ev.where("user_id % 2 = 1"), "user_id", ["event_type"])
    merged = sketches.hll_merge(lo.unionByName(hi), ["event_type"])
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_estimate_within_rel_error(spark):
    """p=8 gives ~1.04/sqrt(256) = 6.5% standard error; assert a loose
    3-sigma bound per event type against the exact distinct count."""
    ev = read_testdata(spark, SF_SMOKE, "events")
    est = sketches.hll_estimate(
        sketches.hll_registers(ev, "user_id", ["event_type"]), ["event_type"]
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n"))
    rows = exact.join(est, "event_type").collect()
    assert rows
    for r in rows:
        assert abs(r.hll_est - r.n) / r.n < 0.20, (r.event_type, r.n, r.hll_est)


def test_hll_estimate_small_range_exactish(spark):
    """A 3-distinct-key input lands in the linear-counting branch and
    must come out within a whisker of 3 (256*ln(256/253) ~ 3.01)."""
    df = spark.createDataFrame([(k,) for k in ("a", "b", "c")], ["k"])
    est = sketches.hll_estimate(
        sketches.hll_registers(df.withColumn("g", F.lit(1)), "k", ["g"]), ["g"]
    ).collect()[0]
    assert 2.5 < est.hll_est < 3.6


def test_cms_overcounts_only_and_merges(spark):
    """CMS estimates never undercount, and sketches built from two
    disjoint count tables sum to the whole-corpus sketch."""
    docs = read_testdata(spark, SF_SMOKE, "documents")
    from data_pipeline_with_spark_spark.llm.text import tokens

    cnt = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).cache()
    sketch = sketches.cms_sketch(cnt)
    probes = cnt.orderBy(F.desc("cnt"), F.asc("token")).limit(50)
    got = (
        sketches.cms_lookup(sketch, probes.select("token"))
        .join(probes, "token")
        .collect()
    )
    # sf0.001 has fewer than 50 distinct tokens; every probe must answer.
    assert len(got) == probes.count() > 0
    assert all(r.cms_est >= r.cnt for r in got)

    lo = sketches.cms_sketch(cnt.where("cnt % 2 = 0"))
    hi = sketches.cms_sketch(cnt.where("cnt % 2 = 1"))
    merged = (
        lo.unionByName(hi).groupBy("row", "key").agg(F.sum("c").alias("c"))
    )
    assert merged.exceptAll(sketch).count() == 0
    assert sketch.exceptAll(merged).count() == 0
    cnt.unpersist()


def test_cms_lookup_unseen_token_answers_zeroish(spark):
    """A probe token never inserted must still answer — and, on a tiny
    sketch where its 4 buckets are empty, answer exactly 0 (absent
    bucket == zero counter; dropping it would inflate the min and break
    the overcount-only contract for point queries)."""
    cnt = spark.createDataFrame(
        [("alpha", 3), ("beta", 5)], ["token", "cnt"]
    )
    sketch = sketches.cms_sketch(cnt)
    probes = spark.createDataFrame(
        [("alpha",), ("never-inserted-token",)], ["token"]
    )
    got = {r.token: r.cms_est for r in sketches.cms_lookup(sketch, probes).collect()}
    assert set(got) == {"alpha", "never-inserted-token"}
    assert got["alpha"] >= 3
    # 2 tokens * 4 salted keys in a 4096-bucket row: collision-free here,
    # so the unseen token's min over its 4 (empty) buckets is exactly 0.
    assert got["never-inserted-token"] == 0


def test_cms_sketch_is_bounded(spark):
    """The sketch table never exceeds d*w rows no matter the corpus."""
    docs = read_testdata(spark, SF_SMOKE, "documents")
    from data_pipeline_with_spark_spark.llm.text import tokens

    cnt = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = sketches.cms_sketch(cnt).count()
    assert n <= sketches.CMS_DEPTH * (16 ** sketches.CMS_KEY_HEX)


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    """The drained streaming register table (4 micro-batches of
    incremental agg state) must equal the batch registers bit-for-bit —
    the mergeable-sketch property under real streaming execution."""
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_hll

    ev = read_testdata(spark, SF_SMOKE, "events")
    batch = sketches.hll_registers(ev, "user_id", ["event_type"])
    streamed = run_streaming_hll(spark, SF_SMOKE, str(tmp_path))
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_cms_join_estimate_never_undercounts(spark):
    """AMS/CMS inner-product join-size estimate >= the exact join size
    (collisions only ADD cross terms), and equals it exactly when the
    key domain is collision-free at w=4096."""
    import __spark_entry__ as se

    row = se.queries()["sketch_cms_join_cardinality"](spark, SF_SMOKE).collect()[0]
    assert row.cms_join_est >= row.exact_join_rows > 0
    assert row.overcount == row.cms_join_est - row.exact_join_rows


def test_hll_union_of_disjoint_slices_estimates_total(spark):
    """Register-max union of two disjoint key ranges estimates the total
    domain, not the per-slice sizes — set algebra on sketches alone."""
    df = spark.createDataFrame([(k,) for k in range(2000)], ["k"]).withColumn(
        "g", F.lit(1)
    )
    lo = sketches.hll_registers(df.where("k < 1000"), "k", ["g"])
    hi = sketches.hll_registers(df.where("k >= 1000"), "k", ["g"])
    merged = sketches.hll_merge(lo.unionByName(hi), ["g"])
    est = sketches.hll_estimate(merged, ["g"]).collect()[0].hll_est
    assert abs(est - 2000) / 2000 < 0.20


def test_streaming_cms_counters_equal_batch(spark, tmp_path):
    """Drained streaming CMS counters (4 micro-batches of incremental
    agg state) equal the batch sketch bit-for-bit — counter merge is +,
    exact under any micro-batch split."""
    from data_pipeline_with_spark_spark.llm.text import tokens
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_cms

    docs = read_testdata(spark, SF_SMOKE, "documents")
    cnt = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    batch = sketches.cms_sketch(cnt)
    streamed = run_streaming_cms(spark, SF_SMOKE, str(tmp_path))
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_hll_intersection_entry_sane(spark):
    """Inclusion-exclusion overlap estimate lands within HLL error of
    the exact intersection (loose bound: union/intersection estimates
    each carry ~6.5% standard error and they subtract)."""
    import __spark_entry__ as se

    row = se.queries()["sketch_hll_intersection"](spark, SF_SMOKE).collect()[0]
    assert row.type_a < row.type_b
    assert row.n_exact_overlap > 0
    # |est - exact| bounded by a generous multiple of the union's error
    assert abs(row.hll_overlap_est - row.n_exact_overlap) < max(
        60.0, 0.5 * row.n_exact_overlap
    )


def test_quantile_hist_merges_by_sum(spark):
    """Histograms built from two disjoint halves sum to the whole-corpus
    histogram — counter merge = +, the property that makes the sketch
    shippable per shard / micro-batch."""
    li = read_testdata(spark, SF_SMOKE, "lineitem")
    pts = li.select(
        F.expr(
            "greatest(CAST(round(l_extendedprice * 100) AS BIGINT),"
            " CAST(1 AS BIGINT))"
        ).alias("v"),
        "l_orderkey",
    )
    whole = sketches.quantile_hist(pts)
    lo = sketches.quantile_hist(pts.where("l_orderkey % 2 = 0"))
    hi = sketches.quantile_hist(pts.where("l_orderkey % 2 = 1"))
    merged = (
        lo.unionByName(hi).groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_quantile_estimate_within_bucket_error(spark):
    """Every estimated percentile lands within the sub-bucket relative
    width (1/QH_SUB ≈ 3.1 %) of the exact rank-selected value."""
    from pyspark.sql import Window

    li = read_testdata(spark, SF_SMOKE, "lineitem")
    pts = li.select(
        F.expr(
            "greatest(CAST(round(l_extendedprice * 100) AS BIGINT),"
            " CAST(1 AS BIGINT))"
        ).alias("v")
    )
    hist = sketches.quantile_hist(pts)
    ests = sketches.quantile_estimate(hist, q_pcts=(10, 50, 90, 99)).withColumn(
        "r", F.expr("(q_pct * (n - 1)) div 100 + 1")
    )
    ranked = pts.withColumn("rn", F.row_number().over(Window.orderBy("v")))
    got = ranked.join(ests, F.col("rn") == F.col("r")).collect()
    assert len(got) == 4
    for row in got:
        rel = abs(row.qh_est - row.v) / row.v
        assert rel <= 1.0 / sketches.QH_SUB + 1e-9, (row.q_pct, row.qh_est, row.v)


def test_quantile_hist_is_bounded(spark):
    """The histogram never exceeds 64*QH_SUB buckets regardless of input."""
    li = read_testdata(spark, SF_SMOKE, "lineitem")
    pts = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("v")
    )
    assert sketches.quantile_hist(pts).count() <= 64 * sketches.QH_SUB


def test_streaming_quantile_counters_equal_batch(spark, tmp_path):
    """The drained streaming histogram equals the batch histogram
    bit-for-bit (counter merge = + across micro-batches)."""
    from data_pipeline_with_spark_spark.streaming.demo import run_streaming_quantile

    ev = read_testdata(spark, SF_SMOKE, "events")
    batch = sketches.quantile_hist(
        ev.select(
            F.expr(
                "greatest(CAST(round(value * 100) AS BIGINT),"
                " CAST(1 AS BIGINT))"
            ).alias("v")
        )
    )
    streamed = run_streaming_quantile(spark, SF_SMOKE, str(tmp_path))
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_kmv_bottomk_merges_and_estimates(spark):
    """Bottom-k of the union of per-shard bottom-k sets equals the
    global bottom-k (the KMV merge identity), and the k=256 estimator
    lands within ~4σ (σ ≈ 1/√(k−2) ≈ 6.3 %) of a 2000-key domain."""
    df = spark.createDataFrame([(i,) for i in range(2000)], ["k"])
    whole = sketches.kmv_bottomk(df, "k")
    lo = sketches.kmv_bottomk(df.where("k < 700"), "k")
    hi = sketches.kmv_bottomk(df.where("k >= 700"), "k")
    merged = (
        lo.unionByName(hi).distinct().orderBy("hx").limit(sketches.KMV_K)
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    est = sketches.kmv_estimate(merged).collect()[0]
    assert est.n_sample == sketches.KMV_K
    assert abs(est.kmv_est - 2000) / 2000 < 0.25, est.kmv_est


def test_kmv_small_domain_is_exact(spark):
    """Fewer distinct keys than k: the sample IS the domain and the
    estimate is exactly the distinct count."""
    df = spark.createDataFrame([(i % 37,) for i in range(500)], ["k"])
    est = sketches.kmv_estimate(sketches.kmv_bottomk(df, "k")).collect()[0]
    assert est.n_sample == 37 and est.kmv_est == 37


def test_kmv_overlap_theta_intersection(spark):
    """Theta-sketch-style overlap from the union's bottom-k: planted
    A=0..1999, B=1000..2999 (true overlap 1000 of union 3000). The
    count_both/k ratio scaled by the union estimate must land within a
    loose 4σ of 1000; the exhaustive-sample branch is covered by the
    catalog entry at sf0.001 (15 users → exact)."""
    a = spark.createDataFrame([(i,) for i in range(2000)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(1000, 3000)], ["k"])
    flags = (
        a.selectExpr("md5(CAST(k AS STRING)) AS hx", "1 AS a", "0 AS b")
        .unionByName(
            b.selectExpr("md5(CAST(k AS STRING)) AS hx", "0 AS a", "1 AS b")
        )
        .groupBy("hx")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
    )
    bk = flags.orderBy("hx").limit(sketches.KMV_K)
    row = bk.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("hx").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both"),
    ).collect()[0]
    assert row.n == sketches.KMV_K
    est_union = sketches.kmv_estimate(bk.select("hx")).collect()[0].kmv_est
    overlap = (row.both * est_union) // row.n
    assert abs(est_union - 3000) / 3000 < 0.25, est_union
    assert abs(overlap - 1000) / 1000 < 0.35, (overlap, row.both, est_union)


def test_kmv_difference_theta_a_not_b(spark):
    """Theta-sketch A-not-B on the same planted sets as the overlap
    test: A=0..1999, B=1000..2999 → |A\\B| = |B\\A| = 1000. Both
    directional estimates from the union's bottom-k land near 1000, and
    the three directional counts partition the sample exactly
    (only_a + only_b + both == k)."""
    a = spark.createDataFrame([(i,) for i in range(2000)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(1000, 3000)], ["k"])
    flags = (
        a.selectExpr("md5(CAST(k AS STRING)) AS hx", "1 AS a", "0 AS b")
        .unionByName(
            b.selectExpr("md5(CAST(k AS STRING)) AS hx", "0 AS a", "1 AS b")
        )
        .groupBy("hx")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
    )
    bk = flags.orderBy("hx").limit(sketches.KMV_K)
    row = bk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).alias("only_a"),
        F.sum(F.col("in_b") * (1 - F.col("in_a"))).alias("only_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both"),
    ).collect()[0]
    assert row.n == sketches.KMV_K
    assert row.only_a + row.only_b + row.both == sketches.KMV_K
    est_union = sketches.kmv_estimate(bk.select("hx")).collect()[0].kmv_est
    d_ab = (row.only_a * est_union) // row.n
    d_ba = (row.only_b * est_union) // row.n
    assert abs(d_ab - 1000) / 1000 < 0.35, (d_ab, row.only_a, est_union)
    assert abs(d_ba - 1000) / 1000 < 0.35, (d_ba, row.only_b, est_union)
