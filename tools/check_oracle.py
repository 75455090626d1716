"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column
names, and order-insensitive values EXACTLY (float bit equality — the
strictest interpretation of the driver's value hash).

Usage: python tools/check_oracle.py [--serial] [--trisf] [sf_dir] [query ...]

``--serial`` disables the thread pool so each entry's printed time is
its true serial wall cost (the pooled default is ~3× faster end-to-end
but 6 concurrent entries share the box, so pooled per-entry times
overstate serial cost several-fold — r10's "87 s" BPE reading was this
artifact; the entry is ~10 s serial). Use --serial for the per-round
ORACLE_FULL artifact so its times are diagnostic.

``--trisf`` sweeps the catalog at ALL THREE fixture scale factors
(sf0.001, sf0.01, sf0.1) in one session and prints a combined summary
— the standing end-of-round artifact (``ORACLE_TRISF_r{N}.txt``).
Rationale: each SF has caught cross-engine bugs the others missed
(sf0.001: quality-score ulp boundary + PSI DECIMAL drift; sf0.1:
dup-report double-rounding tie) — the sf0.01 gate alone passed all
three for multiple rounds. Any positional sf_dir is ignored in this
mode; query-name filters still apply.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_pipeline_with_spark_spark.plans import all_queries
from data_pipeline_with_spark_spark.session import get_spark
from data_pipeline_with_spark_spark.sources.readers import TESTDATA_TABLES

_ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
SERIAL = "--serial" in sys.argv[1:]
TRISF = "--trisf" in sys.argv[1:]
SF1 = "--sf1" in sys.argv[1:]
# Positional args: an existing directory is the sf_dir, everything
# else is a query-name filter — so `--trisf <query>` filters instead of
# silently running the full catalog three times with <query> consumed
# as the (ignored) sf_dir.
_DIRS = [a for a in _ARGS if Path(a).is_dir()]
_NAMES = [a for a in _ARGS if not Path(a).is_dir()]
SF_DIR = _DIRS[0] if _DIRS else "/root/testdata/sf0.01"
TRISF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)

# --sf1 (r12 verdict task 3): an OPT-IN fourth sweep at the derived
# .scaling/sf1 fixture (events 1M / documents 50k / embeddings 20k —
# tools/make_scaled_fixture.py; TPC-H tables are NOT scaled, so only
# entries over these three tables are eligible). The subset is the
# density-sensitive headline math — the entries whose VALUES change
# character one decade up (novelty attribution, LSH bucket caps, KMV /
# HLL estimation paths, quantile interpolation, drift statistics,
# retrieval scoring) — curated at ~30 entries because the DuckDB twin
# is the cost bound at this SF (measured: the whole subset's oracle
# side stays in low minutes; the unrolled-GD / unrolled-pagerank
# replays and BPE would not).
SF1_DIR = str(Path(__file__).resolve().parent.parent / ".scaling" / "sf1")
SF1_SUBSET = {
    "dedup_novelty_scores",
    "dedup_minhash_signatures", "dedup_minhash_lsh_pairs",
    "dedup_lsh_capped_buckets", "dedup_lsh_cap_cliff_recovery",
    "dedup_connected_components", "dedup_paragraphs",
    "sketch_kmv_distinct_users", "sketch_kmv_overlap_types",
    "sketch_hll_distinct_users", "sketch_hll_union_types",
    "sketch_hll_intersection", "sketch_cms_token_counts",
    "sketch_quantile_by_type", "sketch_quantile_merge_sources",
    "decontam_benchmark_overlap", "decontam_bloom_prefilter",
    "events_psi_drift", "events_ks_drift", "events_gapfill_locf",
    "events_sessionize",
    "text_tfidf_top_terms", "text_bm25_search",
    "text_unigram_logprob", "text_bigram_backoff_logprob",
    "text_top_bigrams_per_lang",
    "sim_cosine_topk_bruteforce", "sim_embedding_near_dups",
    "sim_mmr_select", "sim_hybrid_rrf_search",
    "curation_pipeline",
    # the derived fixture scales the TPC-H tables too, so the
    # orders/lineitem estimation faces the verdict named are eligible
    "sketch_kmv_churn_customers", "sketch_quantile_prices",
    "sketch_cms_join_cardinality",
}


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def check_one(spark, con, name, spec, sf_dir) -> tuple[bool, str]:
    """(passed, message) for one entry. ``con`` must be private to the
    calling thread (a duckdb cursor)."""
    t0 = time.time()
    try:
        sdf = spec.build(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = sdf.collect()
    except Exception as e:
        return False, f"FAIL {name}: spark error: {e}"
    if spec.oracle is None:
        return True, (
            f"ok   {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)"
        )
    try:
        res = con.execute(spec.oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:
        return False, f"FAIL {name}: duckdb error: {e}"

    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        sn = norm_rows(s_cols, [tuple(r) for r in s_rows])
        dn = norm_rows(d_cols, d_rows)
        if sn != dn:
            diff_i = next((i for i, (a, b) in enumerate(zip(sn, dn)) if a != b), None)
            problems.append(
                f"values differ at sorted-row {diff_i}:\n  spark={sn[diff_i] if diff_i is not None else '?'}\n  duck ={dn[diff_i] if diff_i is not None else '?'}"
            )
    if problems:
        return False, f"FAIL {name}: " + "; ".join(problems)
    return True, f"ok   {name}: {len(s_rows)} rows match ({time.time()-t0:.1f}s)"


# Entries that mutate named session/filesystem state (memory-sink
# stream names, lakehouse tempview registrations) run SEQUENTIALLY;
# everything else is a pure read→compare and fans out across threads
# (Spark schedules concurrent jobs from multiple Python threads fine;
# collect() releases the GIL during JVM execution).
_STATEFUL_PREFIXES = ("stream_", "lakehouse_")
POOL_WORKERS = 6


def sweep(spark, sf_dir: str, only: set[str]) -> tuple[int, int, list[str]]:
    """Run the catalog (or the ``only`` subset) at one scale factor.
    Returns (n_pass, n_run, failed names); prints one line per entry."""
    from concurrent.futures import ThreadPoolExecutor

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        # derived fixtures (.scaling/sf1) carry only a table subset;
        # entries eligible there never reference the missing views
        if Path(f"{sf_dir}/{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    specs = all_queries()
    todo = [
        (name, spec)
        for name, spec in specs.items()
        if not only or name in only
    ]
    pure = [(n, s) for n, s in todo if not n.startswith(_STATEFUL_PREFIXES)]
    stateful = [(n, s) for n, s in todo if n.startswith(_STATEFUL_PREFIXES)]

    results: dict[str, tuple[bool, str]] = {}
    times: dict[str, float] = {}

    def run(pair):
        name, spec = pair
        cur = con.cursor()  # duckdb connections are not thread-safe
        t0 = time.time()
        try:
            results[name] = check_one(spark, cur, name, spec, sf_dir)
        finally:
            times[name] = time.time() - t0
            cur.close()

    if SERIAL:
        for pair in pure:
            run(pair)
    else:
        with ThreadPoolExecutor(max_workers=POOL_WORKERS) as pool:
            list(pool.map(run, pure))
    for pair in stateful:
        run(pair)
    con.close()

    failures = []
    for name, _ in todo:
        passed, msg = results[name]
        print(msg)
        if not passed:
            failures.append(name)
    n_run = len(todo)
    if n_run > 10:
        slow = sorted(times.items(), key=lambda kv: -kv[1])[:10]
        mode = "serial" if SERIAL else f"pooled x{POOL_WORKERS} (wall, shared box)"
        print(f"\nslowest entries ({mode}):")
        for name, sec in slow:
            print(f"  {sec:6.1f}s  {name}")
    print(f"\n{n_run - len(failures)}/{n_run} queries run match at {sf_dir}"
          + (f" (of {len(specs)} registered)" if n_run < len(specs) else ""))
    return n_run - len(failures), n_run, failures


def main() -> int:
    from data_pipeline_with_spark_spark.util import release_session_caches

    only = set(_NAMES)
    spark = get_spark("check_oracle")
    # Warm the session before the first timed entry: JVM/codegen/
    # parquet-footer warmup otherwise lands entirely on whichever entry
    # runs first (tpch_q1 read 7.0 s in the r12 serial artifact vs
    # ~0.3 s steady-state), polluting the per-entry diagnostics.
    spark.range(100_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/region.parquet").collect()
    # The streaming demos run on a CHILD session (streaming_session —
    # isolated SQLConf with state-sized shuffle partitions); its first
    # streaming query pays its own one-time machinery warmup (~4-5 s
    # observed on the first foreachBatch entry), so warm it too with
    # the cheapest streaming entry at the smallest fixture.
    if "stream" in " ".join(sorted(only)) or not only:
        import tempfile

        from data_pipeline_with_spark_spark.streaming.demo import (
            run_streaming_hll,
        )

        run_streaming_hll(
            spark, "/root/testdata/sf0.001", tempfile.mkdtemp(prefix="warm_")
        ).count()
    def sf1_only() -> set[str]:
        sub = SF1_SUBSET & only if only else set(SF1_SUBSET)
        if not Path(SF1_DIR).is_dir():
            print(
                f"--sf1: {SF1_DIR} missing — run tools/make_scaled_fixture.py",
                file=sys.stderr,
            )
            return set()
        return sub

    if not TRISF:
        if SF1 and not _DIRS:
            sub = sf1_only()
            if not sub:
                return 1
            _, _, failures = sweep(spark, SF1_DIR, sub)
            return 1 if failures else 0
        _, _, failures = sweep(spark, SF_DIR, only)
        if SF1:
            sub = sf1_only()
            if sub:
                release_session_caches()
                print(f"\n===== {SF1_DIR} (opt-in subset) =====")
                _, _, f1 = sweep(spark, SF1_DIR, sub)
                failures = list(failures) + f1
        return 1 if failures else 0

    totals: list[tuple[str, int, int, list[str]]] = []
    sweep_dirs = list(TRISF_DIRS)
    for sf_dir in sweep_dirs:
        print(f"\n===== {sf_dir} =====")
        n_pass, n_run, failures = sweep(spark, sf_dir, only)
        totals.append((sf_dir, n_pass, n_run, failures))
        # operator session_caches (MEMORY_ONLY) held during this sweep
        # would otherwise ride through the next, larger SF's sweep as
        # dead eviction pressure
        release_session_caches()
    if SF1:
        sub = sf1_only()
        if sub:
            print(f"\n===== {SF1_DIR} (opt-in subset) =====")
            n_pass, n_run, failures = sweep(spark, SF1_DIR, sub)
            totals.append((SF1_DIR, n_pass, n_run, failures))
            release_session_caches()
    print("\n===== tri-SF summary =====")
    all_fail: list[str] = []
    for sf_dir, n_pass, n_run, failures in totals:
        print(f"{sf_dir}: {n_pass}/{n_run}"
              + (f"  FAILED: {' '.join(failures)}" if failures else ""))
        all_fail.extend(failures)
    return 1 if all_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
