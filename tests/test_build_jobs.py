"""Building a catalog query starts no Spark job unless the entry executes
by design: a hidden build-time job runs part of the query eagerly, often a
shuffle the real run repeats. Jobs are counted from the DAG scheduler's
job-id counter, which every submitted job advances synchronously."""

from __future__ import annotations

from conftest import SF_ORACLE as SF

from data_pipeline_with_spark_spark.plans import all_queries
from data_pipeline_with_spark_spark.sources.readers import TESTDATA_TABLES, read_testdata

# Every lakehouse_ entry commits to a versioned table, and every graph_
# entry runs a checkpointed fixpoint loop.
EXECUTES_BY_FAMILY = ("lakehouse_", "graph_")
# Exact searches whose only build-time job is the query side's one
# bounded collect: the size bound fails fast before anything is
# broadcast, and every later decision reads the collected rows.
QUERY_SIDE_ONLY = frozenset(
    {
        "sim_cosine_topk_bruteforce",
        "sim_hard_negatives",
        "sim_l2_normalized_topk",
        "sim_retrieval_eval",
    }
)
EXECUTES_AT_BUILD = frozenset(
    {
        # source schema inference and partition discovery
        "a4_count_partition_value",
        "s1_csv_scan_escape",
        "s2_json_multiline_scan",
        # streaming: the build drains the stream into a sink
        "stream_cms_ingest",
        "stream_dedup_exact",
        "stream_hll_ingest",
        "stream_incremental_matview",
        "stream_ivfpq_ingest",
        "stream_near_dup_pairs",
        "stream_novelty_ingest",
        "stream_psi_drift",
        "stream_quality_filter_ingest",
        "stream_quantile_ingest",
        "stream_static_enrich",
        "stream_stream_join",
        # iterative graph outside the graph_ family
        "dedup_connected_components",
        "text_textrank_keywords",
        # training: fitted models, merges, breakpoints, filters
        "cluster_kmeans_lloyd",
        "curation_quality_classifier",
        "decontam_bloom_prefilter",
        "orders_monetary_quintiles_breakpoint",
        "sim_pca_label_projections",
        "text_bpe_tokenize",
        # ANN seeding: centroids, codebooks, query samples
        "sim_cosine_topk_ivf",
        "sim_cosine_topk_ivf_indexed",
        "sim_hybrid_rrf_search",
        "sim_l2_topk_auto",
        "sim_l2_topk_ivfpq",
        "sim_l2_topk_pq",
        "sim_mmr_select",
        "sim_semantic_dedup",
        "sim_semantic_dedup_auto",
    }
    | QUERY_SIDE_ONLY
)


def test_catalog_builds_start_no_jobs(spark):
    specs = all_queries()
    assert EXECUTES_AT_BUILD <= specs.keys(), EXECUTES_AT_BUILD - specs.keys()
    for t in TESTDATA_TABLES:  # a table's first read runs a schema job
        read_testdata(spark, SF, t)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    offenders = {}
    for name, spec in specs.items():
        if name in EXECUTES_AT_BUILD or name.startswith(EXECUTES_BY_FAMILY):
            continue
        j0 = dag.nextJobId()
        spec.build(spark, SF)
        if dag.nextJobId() > j0:
            offenders[name] = dag.nextJobId() - j0
    assert not offenders, f"build() started Spark jobs: {offenders}"


def test_exact_searches_build_with_one_query_side_job(spark):
    specs = all_queries()
    for t in TESTDATA_TABLES:
        read_testdata(spark, SF, t)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for name in sorted(QUERY_SIDE_ONLY):
        j0 = dag.nextJobId()
        specs[name].build(spark, SF)
        jobs[name] = dag.nextJobId() - j0
    assert jobs == dict.fromkeys(QUERY_SIDE_ONLY, 1), jobs
