"""Scale-pattern guards: bucketed joins must elide shuffles, partitioned
reads must prune partitions, and the partition-count guard must not
repartition already-parallel inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.sources.bucketing import (
    bucketed_join,
    write_bucketed_table,
)
from data_pipeline_with_spark_spark.sources.writers import write_parquet_table
from data_pipeline_with_spark_spark.util import ensure_min_partitions


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    # disable AQE for this plan check: AQE wraps the plan before execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = read_testdata(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        orders = read_testdata(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, sort_by=["l_orderkey"])
        write_bucketed_table(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            "b_orders",
            ["l_orderkey"],
            8,
            sort_by=["l_orderkey"],
        )
        joined = bucketed_join(spark, "b_lineitem", "b_orders", on=["l_orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        # sanity: result is correct
        assert joined.count() == read_testdata(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    df = spark.createDataFrame(
        [(y, i, float(i)) for y in (1995, 1996, 1997) for i in range(100)],
        ["year", "id", "v"],
    )
    out = str(tmp_path / "pt")
    write_parquet_table(df, out, partition_by=["year"])
    read = spark.read.parquet(out).where(F.col("year") == 1996)
    plan = _plan(read)
    assert "PartitionFilters" in plan and "1996" in plan
    # only one of three partitions scanned
    assert read.count() == 100


def test_a4_entry_prunes_partitions(spark, sf_dir):
    # The A4 driver-gate entry (a4_count_partition_value) claims its
    # WHERE is satisfied by directory pruning — pin PartitionFilters in
    # its actual plan so the claim survives refactors.
    from data_pipeline_with_spark_spark.plans.catalog_sources import (
        _a4_count_partition,
    )

    df = _a4_count_partition(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters" in plan and "o_orderpriority" in plan
    assert {r.o_orderpriority for r in df.collect()} == {"1-URGENT", "2-HIGH"}


def _guard_jobs(spark, df, by=None):
    """(guard output, Spark jobs started while the guard decided)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = ensure_min_partitions(df, by=by)
    return out, dag.nextJobId() - j0


def test_ensure_min_partitions_noop_when_parallel(spark):
    # A frame whose plan already holds an exchange comes back unchanged,
    # and deciding so runs nothing: under AQE, asking a post-groupBy
    # frame for its partition count would execute the shuffle.
    frames = [
        spark.range(1000).repartition(64),
        spark.range(10_000).groupBy((F.col("id") % 7).alias("id")).count(),
    ]
    try:
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            for df in frames:
                for by in (None, ("id",)):
                    out, jobs = _guard_jobs(spark, df, by)
                    assert out is df, f"AQE {aqe}: guard added a shuffle"
                    assert jobs == 0, f"AQE {aqe}: guard started {jobs} job(s)"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_ensure_min_partitions_by_key_hash_partitions(spark):
    # by=<cols> hash-partitions instead of round robin: no
    # sortBeforeRepartition local sort on the fat input partition, and
    # deterministic row-to-partition assignment under retry. Pin the
    # plan node and that the guard fires up to the cluster parallelism.
    df = spark.range(1000).coalesce(1)
    out = ensure_min_partitions(df, by=("id",))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression [id" in plan
    # row set unchanged
    assert out.count() == 1000


def test_ensure_min_partitions_fires_on_one_row_group_split(spark, tmp_path):
    # Spark's byte-range splits of a ONE-row-group parquet file report
    # several partitions, all but one of them empty; the guard reads the
    # row-group count from the footers and fires anyway.
    from data_pipeline_with_spark_spark.sources.readers import parquet_row_groups

    path = str(tmp_path / "one_group")
    spark.range(200_000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert parquet_row_groups(df.inputFiles()) == 1
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    target = spark.sparkContext.defaultParallelism
    try:
        for k in keys:
            spark.conf.set(k, "256k")
        # enough reported partitions that only the row groups can fire it
        assert df.rdd.getNumPartitions() >= target
        out, jobs = _guard_jobs(spark, df, by=("id",))
    finally:
        for k in keys:
            spark.conf.unset(k)
    assert jobs == 0 and out.rdd.getNumPartitions() == target
    assert "RepartitionByExpression [id" in out._jdf.queryExecution().optimizedPlan().toString()


def test_w1_map_sort_parallelized(spark):
    # r15 optimization: w1's pre-exchange sort (feeding the partial
    # WindowGroupLimit) runs on the scan's partitions — a single-file
    # fixture gave it ONE task. Pin the guarded hash repartition on
    # l_orderkey below the window exchange so the map-side sort stays
    # parallel.
    #
    # r16 (r15 advice): the guard decision is made eagerly at build
    # time from the fixture's ROW-GROUP count (data_partitions), so
    # this test silently depends on the sf0.001 lineitem staying a
    # single row group — assert that first so a fixture relayout fails
    # with a clear message instead of a mystifying plan diff.
    from data_pipeline_with_spark_spark.plans import all_queries
    from data_pipeline_with_spark_spark.sources.readers import testdata_row_groups

    assert testdata_row_groups("/root/testdata/sf0.001", "lineitem") == 1, (
        "sf0.001 lineitem is no longer a single parquet row group; the "
        "single-task premise of this plan pin no longer holds — update "
        "the test (and re-measure the w1 guard) for the new layout"
    )
    df = all_queries()["w1_topk_per_group"].build(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "hashpartitioning(l_orderkey" in plan
    assert "WindowGroupLimit" in plan


def test_testdata_row_groups_matches_fixture_layout(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_with_spark_spark.sources.readers import (
        _footer_row_groups,
        parquet_row_groups,
        testdata_row_groups,
    )

    # every small-SF fixture is a single row group (the premise of the
    # single-task findings); unknown paths and non-file URIs report None
    assert testdata_row_groups("/root/testdata/sf0.1", "lineitem") == 1
    assert testdata_row_groups("/root/testdata/sf0.001", "documents") == 1
    assert testdata_row_groups("/does/not/exist", "lineitem") is None
    path, t = str(tmp_path / "t.parquet"), pa.table({"x": list(range(1000))})
    pq.write_table(t, path)
    assert parquet_row_groups(["file://" + path, path]) == 2
    assert parquet_row_groups(["s3a://bucket/lineitem.parquet"]) is None
    assert parquet_row_groups([]) is None
    # footers are cached per (path, size, mtime): a repeat read hits the
    # cache, a rewritten file is read again
    hits = _footer_row_groups.cache_info().hits
    assert parquet_row_groups([path]) == 1
    assert _footer_row_groups.cache_info().hits == hits + 1
    pq.write_table(t, path, row_group_size=100)
    assert parquet_row_groups([path]) == 10


def test_curation_pipeline_single_pass_plan(spark):
    # r16 (verdict task 1): the one-pass restructure must keep exactly
    # ONE documents scan / ONE tokenize subtree — the r15 exact_dedup
    # shape planned two (its keeper and join-back branches prune
    # different columns, defeating subtree reuse). Also pin the
    # rank<=1 partial WindowGroupLimit (map-side top-1 per md5 group)
    # and that no exchange carries the text column.
    import re

    from data_pipeline_with_spark_spark.plans import all_queries

    df = all_queries()["curation_pipeline"].build(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert scans == 1, f"documents scanned {scans}x (want 1):\n{plan[:2000]}"
    assert "WindowGroupLimit" in plan
    # the dedup exchange hashes on md5(text); no exchange hashes on text
    # itself (the pattern tolerates two levels of nested parentheses)
    nested = r"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*"
    args = [m.group(1) for m in re.finditer(rf"hashpartitioning\(({nested})\)", plan)]
    assert any("__text_hash" in a for a in args), plan[:2000]
    assert not [a for a in args if re.search(r"\btext#", a)], args


def test_headline_shuffle_budgets(spark):
    # Pin the shuffle count of load-bearing plans: a regression that adds
    # an Exchange is invisible at test scale but dominates at 100 TB.
    import re

    from data_pipeline_with_spark_spark.plans import all_queries

    budgets = {
        "tpch_q5_local_supplier_volume": 1,  # dims broadcast; 1 agg shuffle
        "tpch_q9_product_profit": 1,
        # window partition shuffle + the r15 map-side parallelize guard
        # (hash on l_orderkey; no-op on multi-partition scans)
        "w1_topk_per_group": 2,
        "text_profile": 1,                   # ensure_min_partitions only
        "a2_group_avg_multikey": 1,
    }
    specs = all_queries()
    for name, budget in budgets.items():
        df = specs[name].build(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        n = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
        assert n <= budget, f"{name}: {n} shuffles (budget {budget})"


def test_new_query_plan_contracts(spark):
    # Pin the scale-load-bearing plan properties of this round's queries:
    # broadcast (not shuffle) joins where one side is small, single
    # window sort for the analytic battery, WindowGroupLimit for the
    # per-group sampler.
    from data_pipeline_with_spark_spark.plans import all_queries

    specs = all_queries()
    sf = "/root/testdata/sf0.001"

    p = _plan(specs["decontam_benchmark_overlap"].build(spark, sf))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    df = specs["text_tfidf_top_terms"].build(spark, sf)
    p = _plan(df)
    assert "SortMergeJoin" not in p  # DF table + corpus-size scalar broadcast
    # The tf and df branches share one tokenize+shuffle of the corpus;
    # AQE applies the reuse at runtime, so pin it on the FINAL plan.
    # Accounting for PLANS.md's "5 raw Exchanges": in the FINAL adaptive
    # plan, ≤3 of them are distinct DATA shuffles (tf-agg on
    # (doc_id,term), df-agg on term, final per-doc window on doc_id);
    # the corpus-size count is a one-row SinglePartition scalar, and the
    # df branch re-reads the tokenize shuffle via ReusedExchange instead
    # of tokenizing the corpus a second time. A ReusedExchange line
    # quotes its target ("ReusedExchange [...], Exchange hash..."), so
    # count only Exchange NODES (line starts), not textual mentions.
    df.collect()
    import re as _re

    final = _plan(df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    data_shuffles = len(
        _re.findall(r"^[\s:+|-]*Exchange hashpartitioning", final, _re.M)
    )
    # ≤4 since r15: the tokenize parallelize guard (hash on doc_id,
    # no-op on multi-partition scans) sits below the reused tf subtree.
    assert data_shuffles <= 4, f"{data_shuffles} data shuffles:\n{final}"
    scalar_shuffles = len(_re.findall(r"^[\s:+|-]*Exchange SinglePartition", final, _re.M))
    assert scalar_shuffles <= 1

    p = _plan(specs["w2_analytic_windows"].build(spark, sf))
    assert p.count("Exchange") <= 1  # one consolidated window ordering

    p = _plan(specs["sample_topk_per_group"].build(spark, sf))
    assert "WindowGroupLimit" in p

    p = _plan(specs["sample_stratified_by_lang"].build(spark, sf))
    assert "Exchange" not in p  # pure projection + filter

    p = _plan(specs["embedding_quantize_int8"].build(spark, sf))
    assert "Exchange" not in p and "EvalPython" not in p


def test_lsh_selfjoin_signature_computed_once(spark):
    # r6 verdict perf finding #1: the LSH self-joins used to execute the
    # full signature subtree (shingle→md5 for MinHash; payload decode →
    # DCT → pHash MapInPandas for images) on BOTH join sides. Both now
    # repartition on the band keys BEFORE aliasing sides, so the two
    # inputs share one Exchange and AQE reuse runs the expensive stage
    # once. Pin: final adaptive plan has a ReusedExchange, exactly one
    # Generate (band explode) node, and — for the image query — exactly
    # one MapInPandas (decode) node.
    import re

    from data_pipeline_with_spark_spark.plans import all_queries

    specs = all_queries()
    sf = "/root/testdata/sf0.001"

    # MinHash: bucket-group shape (r7 verdict item #5) — NO self-join
    # at all. One source scan means the shingle→md5 signature subtree
    # executes once BY CONSTRUCTION (the old shared-Exchange shape
    # relied on AQE reuse, which broke whenever the join converted to
    # broadcast), and the wide shuffles are the band groupBy + the
    # final distinct (≤3 exchanges total with the parallelism guard).
    df = specs["dedup_minhash_lsh_pairs"].build(spark, sf)
    df.collect()  # the FINAL adaptive plan only exists after execution
    final = _plan(df).split("== Initial Plan ==")[0]
    scans = len(re.findall(r"Scan parquet|FileScan", final))
    assert scans == 1, f"signature source scanned {scans}× (want 1)"
    assert "Join" not in final, f"self-join resurfaced:\n{final[:2000]}"
    exchanges = len(re.findall(r"Exchange (?:hash|RoundRobin)", final))
    assert exchanges <= 3, f"{exchanges} exchanges (want <=3):\n{final[:2000]}"

    # pHash: persist shape (image band values are LOW-cardinality and
    # duplicate classes make them hot; a reused exchange would disable
    # AQE's skew split — measured 4-6x slower at sf1). The decode→DCT
    # MapInPandas stage must appear ONCE, with the second join side
    # reading the cached fingerprints.
    df = specs["multimodal_phash_near_dups"].build(spark, sf)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    mips = len(re.findall(r"^[\s:+*(\d)-]*MapInPandas", final, re.M))
    assert mips == 1, f"decode ran {mips}× (want 1)"
    assert "InMemoryTableScan" in final, f"no fingerprint cache:\n{final[:2000]}"

    # Size-adaptive wide-payload self-joins: past the broadcast
    # threshold they take the shared-Exchange shape; pin that regime by
    # disabling broadcast for their run.
    for name in ("sim_embedding_near_dups", "dedup_ngram_jaccard"):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = specs[name].build(spark, sf)
            df.collect()
            final = _plan(df).split("== Initial Plan ==")[0]
            assert "ReusedExchange" in final, f"{name}: no exchange reuse:\n{final[:2000]}"
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # below the threshold the adaptive operators must NOT force the
    # shuffle — the small regime keeps AQE's broadcast (our shaping
    # repartition would appear as a REPARTITION_BY_COL-tagged Exchange)
    for name in ("sim_embedding_near_dups", "dedup_ngram_jaccard"):
        df = specs[name].build(spark, sf)
        assert "REPARTITION_BY_COL" not in _plan(df), f"{name}: forced shuffle below threshold"

    from data_pipeline_with_spark_spark.util import too_big_to_broadcast

    small = spark.range(10).selectExpr("id", "cast(id as string) s")
    assert not too_big_to_broadcast(small)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert too_big_to_broadcast(small)  # broadcast disabled -> shared path
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ann_query_guard_stays_jvm_side(spark):
    # r6 verdict perf finding #2: a query side collected as Python rows
    # and rebuilt with createDataFrame re-enters the plan as `Scan
    # ExistingRDD` (pickled JVM→Python→JVM round trip, 1.82× regression
    # on the brute-force headliner). The query side is now one bounded
    # Arrow collect rebuilt from the Arrow table, which plans as
    # LocalTableScan: pin that no ExistingRDD scan appears in the
    # brute-force plan.
    from data_pipeline_with_spark_spark.plans import all_queries

    df = all_queries()["sim_cosine_topk_bruteforce"].build(
        spark, "/root/testdata/sf0.001"
    )
    assert "ExistingRDD" not in _plan(df)


def test_arrow_local_df_is_local_table_scan_and_exact(spark):
    # The driver-side frame constructor must not fall back to pickled
    # rows (`Scan ExistingRDD`) when Arrow conversion is off, and must
    # keep -0.0, NaN and denormals bit-exact through nested arrays.
    import math
    import struct

    from data_pipeline_with_spark_spark.util import arrow_local_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        vals = [-0.0, math.nan, 5e-324, -1.5, math.inf]
        books = [[vals, vals[::-1]], [vals[:2]]]
        df = arrow_local_df(
            spark, {"id": [7], "books": [books]}, "id INT, books ARRAY<ARRAY<ARRAY<DOUBLE>>>"
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "ExistingRDD" not in plan
        assert "LocalTableScan" in _plan(df)
        got = df.collect()[0]
    finally:
        spark.conf.set(key, saved)

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert got.id == 7
    assert [[bits(v) for v in b] for b in got.books] == [
        [bits(v) for v in b] for b in books
    ]


def test_ivf_materialized_index_prunes_partitions(spark, sf_dir, tmp_path):
    from data_pipeline_with_spark_spark.llm.similarity import (
        ivf_build_index,
        ivf_probe_topk,
        ivf_topk,
    )
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_cells=16)

    probed = ivf_probe_topk(spark, idx, queries, k=5, n_probe=4)
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "cell" in plan
    # the scan must carry the probed-cell IN predicate, not read all cells
    assert "cell IN" in plan or "cell#" in plan.split("PartitionFilters")[1][:200]

    # identical quantizer seed => identical results to the in-job variant
    in_job = ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)
    got = {(r.q_id, r.neighbor_id, r.rnk) for r in probed.collect()}
    want = {(r.q_id, r.neighbor_id, r.rnk) for r in in_job.collect()}
    assert got == want and len(got) == 25


def test_aqe_skew_join_fires_on_hot_key(spark, tmp_path):
    # Skew robustness evidence (r5 verdict lead #4): with a zipf-hot key
    # (~30% of rows on one key), AQE's runtime skew-join split must kick
    # in — the final adaptive plan marks the SortMergeJoin with
    # skew=true — and the salted explicit form must produce identical
    # results for engines/stages AQE can't help.
    from data_pipeline_with_spark_spark.operators.joins import salted_skew_join

    n = 200_000
    left = spark.range(n).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))  # 30% of rows on key 0
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))
    # parquet-backed so size estimates are real and stages materialize
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lp)
    right.write.parquet(rp)
    left, right = spark.read.parquet(lp), spark.read.parquet(rp)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        joined = left.join(right, on="k")
        # execute THIS DataFrame's own query execution (count() would
        # plan a separate query and leave this one isFinalPlan=false)
        assert len(joined.collect()) == n
        final = _plan(joined).split("== Initial Plan ==")[0]
        assert "skew=true" in final, f"AQE skew split did not fire:\n{final[:2000]}"

        # explicit salting: same results, hot key spread over buckets
        plain = left.join(right, on="k").groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("rv").alias("s")
        )
        salted = salted_skew_join(left, right, key="k").groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("rv").alias("s")
        )
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")


def test_artifact_sig_detects_same_mtime_rewrite(tmp_path):
    # r8 advice: the quantizer cache keyed on (name, mtime) alone — a
    # rebuild preserving mtimes (copy --preserve, or sub-granularity
    # rewrites) served stale centroids. The signature now carries
    # st_mtime_ns AND st_size, so a same-mtime different-length rewrite
    # changes the key.
    import os

    from data_pipeline_with_spark_spark.llm.similarity import _artifact_sig

    d = tmp_path / "idx" / "centroids"
    d.mkdir(parents=True)
    f = d / "part-0.parquet"
    f.write_bytes(b"aaaa")
    st = os.stat(f)
    sig1 = _artifact_sig(str(tmp_path / "idx"), "centroids")
    f.write_bytes(b"bbbbbbbb")  # different content AND length
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))  # restore mtime
    sig2 = _artifact_sig(str(tmp_path / "idx"), "centroids")
    assert sig1 != sig2


def test_dsir_plan_broadcasts_ratio_table(spark):
    # The B-row log-ratio table must reach the per-feature join as a
    # BROADCAST: the exploded feature stream never sorts/shuffle-joins
    # on the bucket key for that join (the per-doc join-back on the id
    # is the designed one shuffle and may legitimately sort-merge).
    from data_pipeline_with_spark_spark.llm import packing
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "tgt" if i % 3 == 0 else "raw", f"alpha beta gamma {i} delta")
         for i in range(30)],
        ["doc_id", "source", "text"],
    )
    out = packing.dsir_select(df, F.col("source") == "tgt", n_buckets=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "__bucket" in ln
    ]
    assert join_lines, "expected a bucket-keyed join in the plan"
    assert all("BroadcastHashJoin" in ln for ln in join_lines), join_lines


def test_quality_scoring_applies_weights_without_a_join(spark):
    # Frozen weights ride an element_at over a literal array — scoring
    # must contain NO bucket-keyed join at all (the only join is the
    # id-keyed attach back to the docs).
    from data_pipeline_with_spark_spark.llm import classifier as C

    df = spark.createDataFrame(
        [(i, "s", f"some text body {i} tokens here") for i in range(20)],
        ["doc_id", "source", "text"],
    )
    w = [0.01] * 33
    plan = (
        C.score_quality(df, w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert not [
        ln for ln in plan.splitlines()
        if "Join" in ln and "bucket" in ln
    ]


def test_codegen_cache_sized_for_catalog_sweeps(spark):
    """Pin the generated-class cache size: a full catalog sweep mints
    more than 5000 codegen keys (streaming micro-batch plans alone mint
    fresh ones per batch), and eviction makes every post-sweep run pay
    a Janino recompile — measured 31.7 s vs 6.6 s first-run-at-sf1 for
    minhash signatures (r12 bisect). If this conf regresses, the
    symptom is NOT a test failure but recurring false SUPERLINEAR flags
    in SCALING.md and inflated late-sweep entries in the oracle gate —
    so pin it here where the cause is documented."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 50000


def test_novelty_serve_caches_deduped_postings(spark):
    # r13 find: ReuseExchange does not fold two sibling consumers of the
    # same frame, so the dedupe-path serve must session_cache the
    # deduped postings (else the repartition(sid) exchange AND the
    # shingle pipeline execute twice), while the batch entry
    # (assume_unique) keeps its original single-pass shape with no
    # repartition-by-column at all. Pin both plan shapes.
    import re

    from pyspark.sql import functions as F

    from data_pipeline_with_spark_spark.llm import dedup
    from data_pipeline_with_spark_spark.util import (
        exploded,
        release_session_caches,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc{i} zeta eta theta")
         for i in range(1, 9)],
        ["doc_id", "text"],
    )
    batch = dedup.novelty_scores(docs)
    batch.count()
    batch_plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_COL" not in batch_plan
    assert "InMemoryTableScan" not in batch_plan

    sh = dedup.with_shingles(docs).select("doc_id", "shingles")
    post = exploded(sh, ["doc_id"], F.col("shingles"), "__s").select(
        "doc_id", F.md5("__s").alias("sid")
    )
    served = dedup.novelty_from_postings(post)
    served.count()
    served_plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in served_plan
    # the cached dedupe subtree appears under the scans but executes
    # once; outside the cache no further sid repartition may exist
    outside = re.sub(
        r"InMemoryTableScan[\s\S]*", "", served_plan
    )
    assert "REPARTITION_BY_COL" not in outside
    release_session_caches()
