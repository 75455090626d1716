"""Similarity search over embedding columns (array<float>).

Public searches, per the standard ANN playbook:
- **Exact** — ``brute_force_topk`` (cosine), ``brute_force_l2_topk``
  (squared L2), ``hard_negatives`` and ``mmr_select`` on top of them:
  queries broadcast, the corpus streams through one scan.
- **LSH** — ``lsh_bucketed_topk``: axis-hyperplane sign buckets
  (portable SQL); candidates only meet inside a bucket.
- **IVF** — ``ivf_topk`` (in-job) and ``ivf_probe_topk`` over the
  cell-partitioned ``ivf_build_index``: a k-means coarse quantizer
  inverts the corpus by cell, a probe reads n_probe/n_cells of it.
- **PQ** — ``pq_train`` / ``pq_encode`` / ``pq_topk`` /
  ``pq_topk_refined`` (Jégou et al. 2011): m codebook indices per
  vector, ADC lookup-table scoring, exact re-rank of a shortlist.
- **IVFPQ** — ``ivfpq_build_index`` / ``ivfpq_probe_topk`` /
  ``ann_topk`` and the versioned ``VersionedIvfPqIndex``: coarse
  cells prune I/O, residual PQ codes shrink the scan, exact re-rank.

Every search runs on one private kernel per decision:
``_sq_dist_cols`` (the squared-L2 fold), ``_argmin`` (nearest center,
lowest index on a tie), ``_top_k`` (per-query ranking: score, then
ascending id, NULL scores last), ``_pq_encode`` (PQ codes against
codebooks riding a 1-row constants frame), ``_exact_rerank`` (fetch a
shortlist's vectors, score exact L2, rank), ``_lloyd_means`` (the
distributed Lloyd mean step) and ``_load_quantizer`` (an index's
centroids and codebooks, cached on the artifacts' mtimes).

Every search that broadcasts its queries gets them from one
``_query_side``: ONE bounded Arrow collect (at most
``MAX_BROADCAST_QUERIES + 1`` rows) fails fast past the bound, else
freezes the rows on the driver and hands back a ``LocalTableScan``
frame of them to broadcast. Every later decision (|Q|, probed cells,
driver LUTs) reads those frozen rows, so a sample- or limit-derived
query set is drawn exactly once, and nothing is persisted. Probe cells
have one ranker, ``_rank_cells``: numpy over the frozen rows with the
SQL kernels' sequential double folds (bit-identical scores) and a
stable argsort, so a tie goes to the lowest cell. The probed-cell
literal that prunes cell directories comes from the driver.

All arithmetic is element-wise double (cast from float32 first, then a
sequential fold), and final scores round to 6 decimals so rankings are
stable across engines.
"""

from __future__ import annotations

import hashlib
import math
import operator

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.util import (
    arrow_local_df,
    ensure_min_partitions,
    exploded,
    too_big_to_broadcast,
)


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _sq_dist_cols(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array columns (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dists_to(v: Column, centers: Column) -> Column:
    """Squared L2 from ``v`` to every entry of an array<array<double>>
    column. The lambda stays UNARY: a second parameter flips
    ``F.transform`` into its (element, index) form."""
    return F.transform(centers, lambda c: _sq_dist_cols(v, c))


def _argmin(dists: Column) -> Column:
    """0-based index of the smallest distance, the lowest index on a tie
    (numpy argmin's rule, which the driver-side trainers share)."""
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _top_k(
    scored: DataFrame,
    score,
    k: int,
    id_col: str,
    query_id_col: str,
    desc: bool = False,
    rank_col: str = "rnk",
) -> DataFrame:
    """The ``k`` best rows per query, numbered 1..k in ``rank_col``. The
    one tie policy of every search: ``score`` first (descending for
    similarities, ascending for distances), then ascending ``id_col``;
    a NULL score ranks last either way, so it can never displace a
    real neighbor."""
    order = F.desc_nulls_last(score) if desc else F.asc_nulls_last(score)
    w = Window.partitionBy(query_id_col).orderBy(order, F.asc(id_col))
    return scored.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def _cosine_topk(
    pairs: DataFrame, k: int, id_col: str, emb_col: str, query_id_col: str
) -> DataFrame:
    """Exact cosine top-k over (candidate, query) pairs carrying
    ``emb_col`` and ``q_emb``: every pair but the query itself is
    scored, rounded to 6 decimals and ranked per query."""
    scored = pairs.where(F.col(id_col) != F.col(query_id_col)).withColumn(
        "cos_sim", F.round(cosine(F.col(emb_col), F.col("q_emb")), 6)
    )
    return _top_k(scored, "cos_sim", k, id_col, query_id_col, desc=True).select(
        query_id_col, F.col(id_col).alias("neighbor_id"), "cos_sim", "rnk"
    )


# Every exact and ANN search BROADCASTS the query side: right for the
# intended regime (|queries| ≪ corpus — ad-hoc search, eval probes),
# wrong past executor memory. ``_query_side`` fails fast with the remedy
# instead of letting the broadcast OOM an executor at scale.
MAX_BROADCAST_QUERIES = 100_000

# PQ re-rank shortlists are (q_id, neighbor_id) pairs — 16 bytes of
# data per row. 2M rows ≈ 32 MB serialized — comfortably inside a
# broadcast; past that the fetch join falls back to a shuffle.
SHORTLIST_BROADCAST_MAX_ROWS = 2_000_000


def _query_side(projection: DataFrame, op: str):
    """The query side of every broadcast search: ONE bounded Arrow
    collect of ``projection`` (its first ``MAX_BROADCAST_QUERIES + 1``
    rows — one job, no row past the bound reaches the driver), the
    remedy ``ValueError`` past the bound, else ``(rows, frame)``: the
    frozen ``pyarrow.Table`` and a ``LocalTableScan`` frame of it to
    broadcast. Callers read |Q| as ``len(rows)`` and rank probe cells
    from ``rows``, so every decision sees the same rows the join does,
    even when ``projection`` is sample()- or limit()-derived."""
    rows = projection.limit(MAX_BROADCAST_QUERIES + 1).toArrow()
    if len(rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"{op} broadcasts the query set, sized for |queries| <= "
            f"{MAX_BROADCAST_QUERIES}; got more. For query sets at corpus "
            "scale use the bucketed self-join shape instead "
            "(embedding_near_dup_pairs / lsh_bucketed_topk with the big "
            "side as corpus)."
        )
    return rows, arrow_local_df(projection.sparkSession, rows)


def _l2_query_side(
    queries: DataFrame, id_col: str, emb_col: str, query_id_col: str, op: str
):
    """``_query_side`` of the L2 searches: (query_id_col, ``__q`` double
    array). NULL embeddings have no distance and are dropped, uniform
    with ``_ivfpq_assign``'s index-side exclusion — after the collect,
    so a filter never splits the caller's own limit from the bound's
    (one job, not a shuffle plus one); the bound counts every query."""
    rows, q = _query_side(
        queries.select(
            F.col(id_col).alias(query_id_col), _as_double(F.col(emb_col)).alias("__q")
        ),
        op,
    )
    return rows.filter(rows.column("__q").is_valid()), q.where(F.col("__q").isNotNull())


def _np_fold(a, b, term=operator.mul):
    """numpy twin of the SQL folds (``dot``, ``_sq_dist_cols``):
    ``term(a_i, b_i)`` summed over the last axis in the same sequential
    double order, so a driver-side score is bit-identical to the one an
    executor computes. Broadcasts over the leading axes."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for t in range(a.shape[-1]):
        acc = acc + term(a[..., t], b[..., t])
    return acc


def _sq_term(x, y):
    return (x - y) * (x - y)


def _vectors(rows, col: str, dim: int):
    """Column ``col`` of the frozen query rows as an (n, ``dim``)
    float64 matrix; a NULL vector becomes a row of NaN (it scores
    nothing)."""
    vals = rows.column(col).to_pylist()
    filled = [[math.nan] * dim if v is None else v for v in vals]
    return np.array(filled, dtype=np.float64).reshape(len(vals), dim)


def _rank_cells(vecs, centroid_list, n_probe: int, metric: str):
    """The one probe-cell ranker: per query row of ``vecs``, the
    ``n_probe`` nearest cells (an (n, min(n_probe, n_cells)) int array)
    by ``metric`` ("cosine" — highest first — or "l2" squared distance).
    Scores are the SQL kernels' folds (``_np_fold``); the stable argsort
    sends a tie to the lowest cell and a NaN score last."""
    C = np.asarray(centroid_list, dtype=np.float64)
    X = vecs[:, None, :]
    with np.errstate(invalid="ignore", divide="ignore"):
        if metric == "cosine":
            norms = np.sqrt(_np_fold(X, X)) * np.sqrt(_np_fold(C, C))
            score = -(_np_fold(X, C) / norms)
        else:
            score = _np_fold(X, C, _sq_term)
    return np.argsort(score, axis=1, kind="stable")[:, :n_probe]


def _with_cells(rows, cells):
    """The (query, cell) pairs a probe joins on: ``rows`` repeated once
    per ranked cell of ``cells`` (from ``_rank_cells``), plus an INT
    ``cell`` column."""
    import pyarrow as pa

    n, take = cells.shape
    return rows.take(np.repeat(np.arange(n), take)).append_column(
        "cell", pa.array(cells.ravel(), pa.int32())
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact cosine top-k neighbors per query. Queries broadcast; the
    corpus is scanned once; ranking window partitions by query."""
    _, q = _query_side(
        queries.select(F.col(id_col).alias(query_id_col), F.col(emb_col).alias("q_emb")),
        "brute_force_topk",
    )
    return _cosine_topk(
        ensure_min_partitions(corpus).crossJoin(F.broadcast(q)),
        k, id_col, emb_col, query_id_col,
    )


def l2_normalize(
    df: DataFrame, emb_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Unit-normalize an embedding column (double output). On the unit
    sphere squared L2 and cosine rank identically (|a−b|² = 2 − 2·a·b),
    so normalizing once up front lets the whole L2-metric ANN family
    (PQ ADC, IVFPQ) serve cosine workloads — the standard trick, done
    as one corpus pass instead of per-distance sqrt work. Zero vectors
    have no direction: they normalize to NULL rather than NaN-poisoning
    downstream scores. The norm binds to its own column first so the
    per-element division doesn't recompute the fold per coordinate
    (interpreted higher-order lambdas; see with_shingles)."""
    out = out_col or emb_col
    return (
        df.withColumn("__nm", norm(F.col(emb_col)))
        .withColumn(
            out,
            F.when(
                F.col("__nm") > 0,
                F.transform(_as_double(F.col(emb_col)), lambda x: x / F.col("__nm")),
            ),
        )
        .drop("__nm")
    )


def brute_force_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact squared-L2 top-k per query — the metric twin of
    ``brute_force_topk`` (ascending distance, id tiebreak); same
    broadcast + map-side-window plan shape.

    NULL embeddings (``l2_normalize``d zero vectors — no direction)
    are excluded from BOTH sides, matching ``_ivfpq_assign``'s uniform
    exclusion: an unfiltered NULL candidate would score a NULL
    distance, which ``_top_k`` ranks last as defense in depth."""
    _, q = _l2_query_side(
        queries, id_col, emb_col, query_id_col, "brute_force_l2_topk"
    )
    scored = (
        ensure_min_partitions(corpus)
        .where(F.col(emb_col).isNotNull())
        .select(F.col(id_col), _as_double(F.col(emb_col)).alias("__n"))
        .crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .withColumn("l2_sq", F.round(_sq_dist_cols(F.col("__n"), F.col("__q")), 6))
    )
    return _top_k(scored, "l2_sq", k, id_col, query_id_col).select(
        query_id_col, F.col(id_col).alias("neighbor_id"), "l2_sq", "rnk"
    )


def topk_recall_summary(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    floor: float,
    query_id_col: str = "q_id",
) -> DataFrame:
    """Bound-style verification face for approximate top-k operators
    (the ``a7_approx_count_distinct`` pattern): reduce an ANN result to
    per-query facts an oracle can state EXACTLY — k rows returned, all
    distinct, never the query itself — plus a ``recall_ok`` flag
    asserting the entry's documented mean-recall floor against the
    exact top-k (computed by the oracle-verified brute-force twin).
    The approximate ranking itself stays approximate; what becomes
    hash-checkable is that it honors its recall contract.

    Both inputs carry (query_id_col, neighbor_id, <score>, rnk) as
    produced by the ``*_topk`` functions. Everything here is
    query-scale (|Q|·k rows), so the joins are trivial next to the
    searches that produced them. Recall divides by ``k`` (not rows
    returned): a query that returns fewer than k rows cannot launder
    the shortfall into a better ratio. The queries are ``exact``'s: one
    the approximate side returns nothing for reads ``n_returned = 0``
    and recall 0 instead of dropping out of the mean."""
    a, e = (
        df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
        )
        for df in (approx, exact)
    )
    returned = a.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned"),
        (F.count_distinct(F.col("neighbor_id")) == F.count(F.lit(1))).alias(
            "distinct_ok"
        ),
        (F.max((F.col("neighbor_id") == F.col("query_id")).cast("int")) == 0).alias(
            "no_self"
        ),
    )
    # one pass over the exact side: each exact row hit or missed
    recall = (
        e.join(a.withColumn("__hit", F.lit(1)), on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg((F.count("__hit") / F.lit(float(k))).alias("recall"))
    )
    per_q = recall.join(returned, on="query_id", how="left").select(
        "query_id",
        F.coalesce("n_returned", F.lit(0).cast("bigint")).alias("n_returned"),
        F.coalesce("distinct_ok", F.lit(True)).alias("distinct_ok"),
        F.coalesce("no_self", F.lit(True)).alias("no_self"),
        "recall",
    )
    mean = per_q.agg(F.avg("recall").alias("mean_recall"))
    return per_q.crossJoin(F.broadcast(mean)).select(
        "query_id",
        "n_returned",
        "distinct_ok",
        "no_self",
        (F.col("mean_recall") >= F.lit(float(floor))).alias("recall_ok"),
    )


def semantic_dedup_check(
    emb: DataFrame,
    kept: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    sample_n: int = 64,
) -> DataFrame:
    """Bound-style verification face for clustered semantic dedup:
    per-label facts an oracle states exactly, plus invariant flags that
    hold for ANY clustering but break on a FALSE drop:

    - ``kept_le_total`` — no label keeps more rows than it has;
    - ``kept_subset_ok`` — every kept id exists in the corpus, once;
    - ``sampled_drops_witnessed`` — each of the ``sample_n`` lowest-id
      dropped vectors has SOME earlier corpus vector with cosine ≥
      threshold (the keeper rule's necessary condition, independent of
      which cells the clusterer formed). The witness scan is
      |sample| × n — linear in the corpus, so the entry keeps its
      scale shape (the exact global check would be the quadratic the
      auto path exists to avoid).

    The witness threshold backs off by 1e-6: the dedup's in-cell numpy
    cosine and this check's fold cosine can disagree in the last ulp
    on a pair sitting exactly at the threshold."""
    corpus = emb.where(F.col(emb_col).isNotNull())
    kept_ids = kept.select(F.col(id_col))
    per_label = (
        corpus.join(kept_ids.withColumn("__k", F.lit(1)), on=id_col, how="left")
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            (F.sum(F.coalesce(F.col("__k"), F.lit(0))) <= F.count(F.lit(1))).alias(
                "kept_le_total"
            ),
        )
    )
    n_kept = kept_ids.count()
    subset_ok = (
        kept_ids.distinct().count() == n_kept
        and kept_ids.join(corpus.select(id_col), on=id_col, how="left_anti").count()
        == 0
    )
    samp = (
        corpus.join(kept_ids, on=id_col, how="left_anti")
        .orderBy(id_col)
        .limit(sample_n)
        .select(F.col(id_col).alias("__d_id"), F.col(emb_col).alias("__d_emb"))
    )
    n_samp = samp.count()
    witnessed = (
        F.broadcast(samp)
        .crossJoin(
            corpus.select(
                F.col(id_col).alias("__a_id"), F.col(emb_col).alias("__a_emb")
            )
        )
        .where(F.col("__a_id") < F.col("__d_id"))
        .where(cosine(F.col("__a_emb"), F.col("__d_emb")) >= threshold - 1e-6)
        .select("__d_id")
        .distinct()
        .count()
    )
    return per_label.select(
        label_col,
        "n_total",
        "kept_le_total",
        F.lit(bool(witnessed == n_samp)).alias("sampled_drops_witnessed"),
        F.lit(bool(subset_ok)).alias("kept_subset_ok"),
    )


def sign_lsh_bucket(emb: Column, bits: int = 8) -> Column:
    """Axis-hyperplane sign bucket: bit i set iff coordinate i > 0.
    Portable to ANSI SQL (element_at is 1-based in both engines)."""
    value = None
    for i in range(bits):
        term = (
            F.when(F.element_at(emb, i + 1) > 0, F.lit(2**i)).otherwise(F.lit(0))
        ).cast("int")
        value = term if value is None else value + term
    return value


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket. At cluster scale the corpus side is bucket-partitioned
    (repartition on bucket) so each bucket's candidate join is local."""
    c = ensure_min_partitions(corpus).withColumn("bucket", sign_lsh_bucket(F.col(emb_col), bits))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(emb_col).alias("q_emb"),
        sign_lsh_bucket(F.col(emb_col), bits).alias("bucket"),
    )
    return _cosine_topk(
        c.join(F.broadcast(q), on="bucket"), k, id_col, emb_col, query_id_col
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-join:
    only same-bucket pairs are scored (id_a < id_b), then thresholded."""
    b = ensure_min_partitions(df).withColumn("bucket", sign_lsh_bucket(F.col(emb_col), bits))
    # Size-adaptive self-join shape (see util.too_big_to_broadcast):
    # past the broadcast threshold, one shuffle on the bucket BEFORE
    # aliasing sides makes both join inputs share the SAME Exchange —
    # the corpus (embedding arrays included) is scanned and shuffled
    # ONCE instead of scanned twice + shuffled twice for the SMJ it
    # would get anyway. Below the threshold AQE broadcasts one aliased
    # side: an extra scan of a small input, zero shuffles — measured
    # ~1.8x faster than forcing the shuffle at sf0.1.
    if too_big_to_broadcast(b):
        b = b.repartition("bucket")
    left = b.select(
        F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"), "bucket"
    )
    right = b.select(
        F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"), "bucket"
    )
    return (
        left.join(right, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _ivf_probe(
    centroid_list: list[list[float]],
    cells_for,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    emb_col: str,
    query_id_col: str,
    op: str,
) -> DataFrame:
    """The cosine IVF probe shared by ``ivf_topk`` and
    ``ivf_probe_topk``: take the query side, rank each query's
    ``n_probe`` cells on the driver, join the corpus rows of the probed
    cells (``cells_for(sorted cell list)``) and score exact cosine
    inside them."""
    rows, _ = _query_side(
        queries.select(F.col(id_col).alias(query_id_col), F.col(emb_col).alias("q_emb")),
        op,
    )
    cells = _rank_cells(
        _vectors(rows, "q_emb", len(centroid_list[0])), centroid_list, n_probe, "cosine"
    )
    q_cells = arrow_local_df(queries.sparkSession, _with_cells(rows, cells))
    # q_cells is |Q| × n_probe rows each carrying the full query vector
    # — n_probe× the query side; hint only under the bound
    if len(rows) * n_probe <= MAX_BROADCAST_QUERIES:
        q_cells = F.broadcast(q_cells)
    probed = cells_for(np.unique(cells).tolist())
    return _cosine_topk(
        probed.join(q_cells, on="cell"), k, id_col, emb_col, query_id_col
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer (driver-side Lloyd on a
    bounded deterministic sample — ``_fit_coarse_centroids``) → invert
    the corpus by cell → probe only the ``n_probe`` cells nearest
    each query → exact cosine + top-k inside the probed cells.

    The scale shape: quantizer training is O(sample); the corpus is
    scanned once to assign cells via the zero-shuffle argmin (and at
    cluster scale would be *written* partitioned by cell — see
    ``ivf_build_index``). Centroids are tiny and driver-known. Recall
    is tunable via n_probe; tests assert recall@k against brute
    force."""
    clist, _ = _fit_coarse_centroids(corpus, n_cells, id_col, emb_col, seed)
    assigned = _ivfpq_assign(corpus, clist, id_col, emb_col).select(
        id_col, emb_col, "cell"
    )
    return _ivf_probe(
        clist, lambda _: assigned, queries, k, n_probe,
        id_col, emb_col, query_id_col, "ivf_topk",
    )


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Materialize the IVF layout `ivf_topk`'s in-job probe only
    emulates: fit the seeded k-means coarse quantizer, assign every
    corpus vector to a cell, and WRITE the corpus partitioned by cell
    (``{path}/data/cell=<i>/``) plus the tiny centroid table
    (``{path}/centroids``). A probe then reads only ``n_probe`` cell
    directories — a genuine partition-pruned scan of n_probe/n_cells of
    the bytes, which is the shape that matters at 100 TB (the in-job
    variant re-scans the whole corpus per query batch).

    Returns the centroid DataFrame for convenience."""
    clist, _ = _fit_coarse_centroids(corpus, n_cells, id_col, emb_col, seed)
    assigned = _ivfpq_assign(corpus, clist, id_col, emb_col).select(
        id_col, emb_col, "cell"
    )
    # One shuffle on cell so each output partition directory is written
    # by the executors that own it (no small-files explosion).
    assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/data"
    )
    return _write_centroids(corpus.sparkSession, path, clist)


def ivf_probe_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Probe a materialized IVF index (see `ivf_build_index`): rank
    cells per query on the driver, push the probed-cell set into the
    partitioned read as an IN literal (Catalyst turns it into
    PartitionFilters — only those directories are listed/scanned),
    then exact cosine + top-k inside the probed cells. Everything
    row-scale on the corpus side stays distributed. Centroids load
    through ``_load_quantizer``."""
    clist, _ = _load_quantizer(spark, path, with_books=False)

    def cells_for(cells):
        return spark.read.parquet(f"{path}/data").where(F.col("cell").isin(cells))

    return _ivf_probe(
        clist, cells_for, queries, k, n_probe,
        id_col, emb_col, query_id_col, "ivf_probe_topk",
    )


def power_iteration_top_component(
    df: DataFrame,
    emb_col: str = "embedding",
    iters: int = 3,
) -> tuple[list[float], list[float], float]:
    """Top principal component of an embedding column by POWER
    ITERATION — the iterative-algorithm pattern applied to dimension
    reduction (the standard pre-ANN/whitening step): per round ONE
    distributed pass computes ``w = Σ_i ((x_i - μ)·v) (x_i - μ)``
    (covariance-matrix action on v without materializing the D×D
    matrix), only D doubles reach the driver, and v renormalizes
    driver-side. Deterministic: v₀ = e₀ and every round's v is
    quantized to 6 decimals (the classifier recipe), so each round's
    INPUT is engine-exact and a DuckDB oracle can replay the unrolled
    rounds. Returns (mu, v, eigenvalue_estimate); mu and all outputs
    round-6.

    Scale: iters × one corpus scan, no shuffle wider than the D-row
    per-dimension partial aggregate — the same lineage shape as
    kmeans_lloyd, bounded driver traffic."""
    vecs = df.where(F.col(emb_col).isNotNull()).select(
        _as_double(F.col(emb_col)).alias("__x")
    )
    first = vecs.select(F.size("__x").alias("n")).limit(1).collect()
    if not first:
        raise ValueError("power_iteration_top_component: empty input")
    d = int(first[0]["n"])
    # per-dim mean, quantized
    mu_rows = (
        exploded(vecs, [], "__x", "val", pos="pos")
        .groupBy("pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .collect()
    )
    mu = [0.0] * d
    for r in mu_rows:
        mu[r.pos] = float(r.m)
    v = [1.0] + [0.0] * (d - 1)  # e0: exact, deterministic
    eig = 0.0
    for _ in range(iters):
        mu_lit = _double_lit(mu)
        v_lit = _double_lit(v)
        cent = F.zip_with(F.col("__x"), mu_lit, lambda a, b: a - b)
        proj = F.aggregate(
            F.zip_with(cent, v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w_rows = (
            exploded(
                vecs.select(cent.alias("__c"), proj.alias("__s")),
                ["__s"],
                "__c",
                "val",
                pos="pos",
            )
            .groupBy("pos")
            .agg(F.round(F.sum(F.col("__s") * F.col("val")), 6).alias("w"))
            .collect()
        )
        w = [0.0] * d
        for r in w_rows:
            w[r.pos] = float(r.w)
        norm = math.sqrt(sum(x * x for x in w))
        if norm == 0.0:  # degenerate input: keep current direction
            break
        eig = round(norm, 6)
        v = [round(x / norm, 6) for x in w]
    return mu, v, eig


def label_projection_stats(
    df: DataFrame,
    emb_col: str = "embedding",
    label_col: str = "label",
    iters: int = 3,
) -> DataFrame:
    """Per-label statistics of the projection onto the corpus's top
    principal component (``power_iteration_top_component``): how the
    labeled clusters separate along the dominant variance direction —
    the one-number-per-cluster diagnostic a curation pipeline reads
    before trusting label-stratified sampling. One extra corpus pass
    after training; all outputs round-6."""
    mu, v, _ = power_iteration_top_component(df, emb_col, iters)
    mu_lit = _double_lit(mu)
    v_lit = _double_lit(v)
    cent = F.zip_with(_as_double(F.col(emb_col)), mu_lit, lambda a, b: a - b)
    proj = F.aggregate(
        F.zip_with(cent, v_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.where(F.col(emb_col).isNotNull())
        .select(F.col(label_col), proj.alias("__p"))
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("__p"), 6).alias("mean_proj"),
            F.round(F.min("__p"), 6).alias("min_proj"),
            F.round(F.max("__p"), 6).alias("max_proj"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embedding space, then inside each cluster drop every vector whose
    cosine similarity to a lower-id cluster-mate exceeds ``threshold``
    (deterministic min-id keeper). Returns the surviving rows.

    Scale shape: the pairwise comparison is CONFINED to k-means cells —
    one shuffle on the cluster id, never a global all-pairs join; cell
    populations are ~n/k so the quadratic term is bounded by the
    clustering granularity (raise ``k`` as the corpus grows, exactly
    the SemDeDup recipe). The centroids themselves live on the driver
    (k rows), everything row-scale stays distributed."""
    labels, _ = kmeans_lloyd(emb, k=k, iters=iters, id_col=id_col, emb_col=emb_col)
    # labels carry only (id, cluster); rejoin for the vectors — one
    # id-keyed shuffle, no vector duplication beyond the cell join.
    # The double cast and the norm are computed ONCE PER ROW before the
    # self-join (r10: the per-pair cosine() recomputed both sides'
    # norms per PAIR — O(cell²) sqrt-folds instead of O(n); same IEEE
    # ops in the same order, so the filter is bit-identical and the
    # oracle hash is unaffected).
    assigned = emb.join(labels.select(id_col, "cluster"), on=id_col).select(
        id_col, "cluster", _as_double(F.col(emb_col)).alias("__d")
    )
    assigned = assigned.withColumn("__n", norm(F.col("__d")))
    a = assigned.select(
        F.col(id_col).alias("__id_a"),
        F.col("cluster"),
        F.col("__d").alias("__d_a"),
        F.col("__n").alias("__n_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("__id_b"),
        F.col("cluster"),
        F.col("__d").alias("__d_b"),
        F.col("__n").alias("__n_b"),
    )
    cos = dot(F.col("__d_a"), F.col("__d_b")) / (F.col("__n_a") * F.col("__n_b"))
    dropped = (
        a.join(b, on="cluster")
        .where(F.col("__id_a") < F.col("__id_b"))
        .where(cos >= threshold)
        .select(F.col("__id_b").alias(id_col))
        .distinct()
    )
    return emb.join(dropped, on=id_col, how="left_anti")


def semantic_dedup_auto(
    emb: DataFrame,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_cells: int = 4096,
) -> DataFrame:
    """The SCALE path of SemDeDup (fixed-k ``semantic_dedup`` is
    quadratic BY CONTRACT — cell population n/k grows with the corpus,
    which the r10 scaling probe measured as exp 1.77). Two changes make
    it survive growth:

    - **k scales with the corpus**: k = ⌈√n⌉ (capped) balances the
      kmeans assign cost O(n·k) against the in-cell pairwise cost
      O(n²/k) — both ~O(n^1.5) of cheap work instead of O(n²). The
      coarse model is MLlib KMeans (JVM, seeded) — at √n cells the
      expression-unrolled Lloyd used by the oracle-checked twin would
      itself become the bottleneck.
    - **in-cell pairwise goes vectorized**: each cell's cosine matrix
      is one numpy gram matrix inside ``applyInPandas`` (Arrow batch
      per cell) instead of per-pair interpreted folds — the documented
      escape hatch for semantics built-ins can't express efficiently.

    Same keeper contract as the twin: drop every vector whose cosine
    to a LOWER-ID cell-mate ≥ threshold. Rows-only entry (MLlib
    internals + numpy sum order aren't SQL-replayable); a pytest pins
    the planted-duplicate behavior and the twin-agreement on a
    fixture where both resolve the same cells."""
    import pandas as pd

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as _T

    vecs = emb.where(F.col(emb_col).isNotNull())
    n = vecs.count()
    if n == 0:
        return emb.limit(0)
    k = max(2, min(max_cells, int(math.isqrt(n))))
    feats = vecs.select(
        F.col(id_col),
        F.col(emb_col),
        array_to_vector(F.col(emb_col).cast("array<double>")).alias("__f"),
    ).repartition(8, id_col).sortWithinPartitions(id_col)
    model = KMeans(k=k, seed=42, featuresCol="__f", predictionCol="__cell").fit(feats)
    assigned = model.transform(feats).select(id_col, emb_col, "__cell")

    # Keeper rule matches the TWIN: drop j when ANY earlier (lower-id)
    # cell-mate is >= threshold — compare vs all earlier rows, dropped
    # or not (SemDeDup's representative-per-group rule would compare
    # only vs kept rows; the twin's rule is the pinned contract).
    def drop_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[emb_col]])
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0.0] = 1.0
        Xn = X / norms[:, None]
        sims = Xn @ Xn.T
        keep = [
            j
            for j in range(len(pdf))
            if j == 0 or not (sims[j, :j] >= threshold).any()
        ]
        return pdf.iloc[keep][[id_col]]

    survivors = assigned.groupBy("__cell").applyInPandas(
        drop_dups,
        _T.StructType([emb.schema[id_col]]),
    )
    return emb.join(survivors, on=id_col, how="left_semi")


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means as pure DataFrame ops — the iterative-algorithm
    pattern on Spark: per iteration, ONE distributed pass assigns points
    to the nearest centroid (``_argmin`` over ``_dists_to``, all
    Catalyst expressions) and one partial-aggregated groupBy recomputes
    means (``_lloyd_means``); only the k centroids (tiny) ever reach the
    driver, exactly like MLlib's own implementation. Deterministic:
    init = the k lowest-id vectors, so results are reproducible
    run-to-run (pytest checks against an independent numpy
    implementation).

    Returns (assignments DataFrame [id_col, cluster], final centroids).
    The IVF builds train their coarse quantizer driver-side instead
    (``_fit_coarse_centroids``); this is the distributed driver-loop
    shape, replayed by a DuckDB oracle.
    """
    vecs = df.select(id_col, _as_double(F.col(emb_col)).alias("__v"))
    centroids = [
        [float(x) for x in r["__v"]]
        for r in vecs.orderBy(id_col).limit(k).collect()
    ]
    spark = df.sparkSession

    assigned = None
    for _ in range(iters):
        # per-round centroids ride a broadcast 1-row frame (not k × D
        # literals): a handful of plan nodes per round
        cdf = _nested_const_df(spark, "__tcents", centroids, 2)
        assigned = (
            vecs.crossJoin(F.broadcast(cdf))
            .withColumn("cluster", _argmin(_dists_to(F.col("__v"), F.col("__tcents"))))
            .drop("__tcents")
        )
        got = _lloyd_means(assigned, ["cluster"], F.col("__v"))
        # empty clusters keep their previous centroid
        centroids = [got.get((i,), centroids[i]) for i in range(k)]
    return assigned.select(id_col, "cluster"), centroids


def _lloyd_means(df: DataFrame, keys: list[str], vec: Column) -> dict:
    """One distributed Lloyd mean step: the coordinate-wise mean of
    ``vec`` per ``keys`` group, as {(key values…): mean list}. One
    posexplode, one partial-aggregated groupBy per coordinate, one
    ordered collect_list per group — only the means reach the driver."""
    rows = (
        df.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("c")
        )
        .collect()
    )
    return {tuple(r[key] for key in keys): [float(x) for x in r.c] for r in rows}


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path.
def _double_lit(values) -> Column:
    """Literal ``ARRAY<DOUBLE>`` (or ``ARRAY<ARRAY<DOUBLE>>`` for
    nested input) built JVM-side from SQL text via ONE ``F.expr``
    call. ``F.lit(list)`` converts element-by-element over py4j —
    ~2 s for a 64×64 nested centroid list (F.lit 2.4 s vs F.expr
    5 ms at sf1) — while the text form parses in milliseconds and
    yields bit-identical doubles (``repr`` round-trips, and the
    decimal→double cast rounds to nearest exactly like Python's float
    parser). Non-finite values and −0.0 need the string-cast spelling:
    ``repr(nan)`` would parse as a column reference and the decimal
    route drops −0.0's sign bit."""

    def fmt(x) -> str:
        x = float(x)
        if x != x:
            return "CAST('NaN' AS DOUBLE)"
        if x == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if x == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        if x == 0.0 and math.copysign(1.0, x) < 0:
            return "CAST('-0.0' AS DOUBLE)"
        return repr(x)

    if values and isinstance(values[0], (list, tuple)):
        body = ",".join(
            "array(" + ",".join(fmt(x) for x in c) + ")" for c in values
        )
        return F.expr(f"CAST(array({body}) AS ARRAY<ARRAY<DOUBLE>>)")
    body = ",".join(fmt(x) for x in values)
    return F.expr(f"CAST(array({body}) AS ARRAY<DOUBLE>)")


def _subspace_dists(v: Column, books_col: Column, m: int, d: int) -> list[Column]:
    """Per PQ subspace j: the squared L2 distances from ``v``'s j-th
    ``d``-slice to every entry of codebook j. The codebooks are a
    COLUMN of a broadcast 1-row constants frame (``_nested_const_df`` /
    ``_probe_const_df``), so a plan holds a handful of nodes instead of
    m × k_codes × d literals."""
    return [
        _dists_to(F.slice(v, j * d + 1, d), F.element_at(books_col, j + 1))
        for j in range(m)
    ]


def _adc_luts(resid: Column, books_col: Column, m: int, d: int) -> list[Column]:
    """Per-subspace ADC lookup tables ``__lut{j}`` of the query('s
    residual) — m × k_codes doubles per query row, riding whatever
    relation carries the query side."""
    return [
        dists.alias(f"__lut{j}")
        for j, dists in enumerate(_subspace_dists(resid, books_col, m, d))
    ]


def _adc_dist(m: int) -> Column:
    """Approximate squared-L2 distance of a candidate: m 1-based array
    lookups (codes are 0-based) + adds — no vector math."""
    adc = None
    for j in range(m):
        term = F.element_at(
            F.col(f"__lut{j}"), F.element_at(F.col("pq_codes"), j + 1) + 1
        )
        adc = term if adc is None else adc + term
    return adc


def _pq_encode(df: DataFrame, v: Column, books: list[list[list[float]]]) -> DataFrame:
    """``df`` plus ``pq_codes``: array<int> of ``v``'s per-subspace
    nearest codebook entries (``_argmin``, lowest index on a tie). The
    codebooks ride a broadcast 1-row constants frame (``__ebooks``)."""
    dists = _subspace_dists(v, F.col("__ebooks"), len(books), len(books[0][0]))
    bdf = _nested_const_df(df.sparkSession, "__ebooks", books, 3)
    return df.crossJoin(F.broadcast(bdf)).withColumn(
        "pq_codes", F.array(*[_argmin(c) for c in dists])
    )


def _nested_const_df(spark, name: str, value, depth: int) -> DataFrame:
    """Fresh (non-persisted) 1-row frame carrying one nested
    array<...array<double>> constant under column ``name``. For
    constants that CHANGE per round (training loops) — the immutable
    probe constants ride the persisted, content-keyed
    ``_probe_const_df`` instead. createDataFrame ships the values as
    DATA (one Arrow batch → JVM doubles, exact), so plans crossJoin a
    broadcast 1-row side and reference a column instead of
    re-analyzing a thousand-literal tree per round."""
    schema = f"{name}: " + "array<" * depth + "double" + ">" * depth
    return arrow_local_df(spark, {name: [value]}, schema)


# Quantizer training is bounded: k-means and PQ codebooks fit on a
# deterministic hash-sample of at most this many vectors (FAISS's rule
# of thumb is ~39-256 training points per centroid — 100k rows train
# 64 coarse cells and 8x16 PQ codes with two orders of magnitude of
# headroom). Training cost is therefore O(sample) regardless of corpus
# size; ONLY the single assign+encode pass scans the full corpus. At
# 100 TB this is the difference between a build that works and one
# that iterates k-means over the whole corpus per Lloyd round.
MAX_QUANTIZER_TRAIN_ROWS = 100_000


def pq_train(
    df: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_train_rows: int | None = MAX_QUANTIZER_TRAIN_ROWS,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    the D-dim space into ``m`` subspaces of D/m dims and run Lloyd
    k-means independently in each — here ALL subspaces train in the
    same distributed pass per iteration (one codes array per row, one
    two-level posexplode for the mean recompute), so an iteration costs
    one corpus scan regardless of m. Deterministic seeding (the
    ``k_codes`` lowest-id vectors' subvectors) like ``kmeans_lloyd``.

    Returns ``codebooks[j][c]`` = centroid c of subspace j. Only
    m × k_codes × D/m floats ever reach the driver per iteration.

    ``max_train_rows`` bounds training to a deterministic hash-sample:
    codebook quality needs a bounded sample, never the corpus — with
    the bound set, every Lloyd iteration scans O(sample) regardless of
    input size. The default is ``MAX_QUANTIZER_TRAIN_ROWS`` (the same
    bound the IVFPQ builds use; below the bound the sample is the
    whole input). Pass ``None`` to force training on everything.

    NULL embeddings are excluded from training, uniform with
    ``_ivfpq_assign``/``pq_encode`` — a NULL subvector would poison
    the Lloyd mean recompute."""
    vecs = (
        ensure_min_partitions(df)
        .where(F.col(emb_col).isNotNull())
        .select(F.col(id_col).alias("__id"), _as_double(F.col(emb_col)).alias("__v"))
    )
    if max_train_rows is not None:
        n_total = vecs.count()
        if n_total > max_train_rows:
            thresh = int((max_train_rows / n_total) * (2**32))
            vecs = vecs.where(
                F.pmod(F.xxhash64(F.col("__id"), F.lit(seed)), F.lit(2**32)) < thresh
            )
    first = vecs.select(F.size("__v").alias("n")).limit(1).collect()
    if not first:
        raise ValueError("pq_train: empty input")
    dim = int(first[0]["n"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    seed_rows = vecs.orderBy("__id").limit(k_codes).collect()
    if len(seed_rows) < k_codes:
        raise ValueError(f"need >= {k_codes} vectors to seed {k_codes} codes")
    books = [
        [[float(x) for x in r["__v"][j * d : (j + 1) * d]] for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(iters):
        # one pass: explode (subspace, code), then the subvector coords
        per_sub = exploded(
            _pq_encode(vecs, F.col("__v"), books), ["__v"], "pq_codes", "code", pos="sub"
        )
        got = _lloyd_means(
            per_sub, ["sub", "code"], F.slice("__v", F.col("sub") * d + 1, d)
        )
        # empty codes keep their previous centroid (kmeans_lloyd rule)
        books = [
            [got.get((j, c), books[j][c]) for c in range(k_codes)] for j in range(m)
        ]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` small ints (its per-subspace nearest
    codebook entries) — pure Catalyst expressions, no Python in the hot
    path. At D=64 float32 → 8 codes this is a 32× memory cut: the codes
    table (not the vectors) is what a 100 TB ANN serving layer keeps
    hot, and ADC scoring below never touches the original embeddings.

    NULL embeddings are excluded (not encoded to NULL codes) —
    uniform with ``_ivfpq_assign``: a NULL-codes row would score a
    NULL ADC distance and poison ascending rankings downstream."""
    return _pq_encode(
        df.where(F.col(emb_col).isNotNull()), _as_double(F.col(emb_col)), codebooks
    ).select(id_col, "pq_codes")


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over PQ codes: per
    query, precompute the m × k_codes lookup table of exact
    subspace-distances to every codebook entry (tiny, rides the query
    broadcast), then a candidate's approximate squared-L2 distance is m
    array lookups + adds — no vector math on the corpus side at all.
    Ranking ascends distance with the id tiebreak; ``adc_dist`` rounds
    to 6 decimals for cross-engine-stable ordering.

    NULL query embeddings are excluded from the query side and legacy
    NULL-codes rows (older ``pq_encode`` output) are skipped, uniform
    with ``_ivfpq_assign``."""
    _, q = _l2_query_side(queries, id_col, emb_col, query_id_col, "pq_topk")
    return _pq_adc_topk(
        codes_df, q, codebooks, k, id_col, query_id_col
    ).select(query_id_col, F.col(id_col).alias("neighbor_id"), "adc_dist", "rnk")


def _pq_adc_topk(
    codes_df: DataFrame,
    q: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """ADC top-k over a query-side frame (columns ``query_id_col,
    __q``) — the shared core of ``pq_topk`` and ``pq_topk_refined``, so
    the refined path collects its query side once. The per-query LUTs
    are computed against the codebooks riding a broadcast 1-row
    constants frame."""
    m, d = len(codebooks), len(codebooks[0][0])
    books = _nested_const_df(q.sparkSession, "__books", codebooks, 3)
    q_lut = q.crossJoin(F.broadcast(books)).select(
        query_id_col, *_adc_luts(F.col("__q"), F.col("__books"), m, d)
    )
    return _adc_topk(
        codes_df.where(F.col("pq_codes").isNotNull()).crossJoin(F.broadcast(q_lut)),
        m, k, id_col, query_id_col,
    )


def _adc_topk(
    pairs: DataFrame,
    m: int,
    k: int,
    id_col: str,
    query_id_col: str,
    rank_col: str = "rnk",
) -> DataFrame:
    """ADC top-k over (codes row, query LUT row) pairs: every pair but
    the query itself scores ``_adc_dist`` rounded to 6 decimals, ranked
    per query."""
    scored = pairs.where(F.col(id_col) != F.col(query_id_col)).withColumn(
        "adc_dist", F.round(_adc_dist(m), 6)
    )
    return _top_k(scored, "adc_dist", k, id_col, query_id_col, rank_col=rank_col)


def pq_topk_refined(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist_factor: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """PQ with exact re-ranking — the production ANN shape (FAISS's
    IVFPQ + refine): the cheap ADC pass shortlists ``k ×
    shortlist_factor`` candidates per query from the codes table alone,
    then ONLY those rows' true vectors are fetched (id-keyed join, a
    point-read at serving scale) and re-scored with exact squared L2
    (``_exact_rerank``). Compression errors cost recall only when a
    true neighbor falls outside the shortlist, so recall ramps with
    ``shortlist_factor`` while the exact-math cost stays
    O(|Q| × k × factor), never O(corpus).

    The query side is collected once (``_query_side``); its row count
    prices the shortlist with no job over raw ``queries``, whose
    lineage may be arbitrarily expensive to re-execute."""
    rows, q = _l2_query_side(
        queries, id_col, emb_col, query_id_col, "pq_topk_refined"
    )
    cand = _pq_adc_topk(
        codes_df, q, codebooks, k * shortlist_factor, id_col, query_id_col
    ).select(query_id_col, F.col(id_col).alias("neighbor_id"))
    return _exact_rerank(
        corpus.where(F.col(emb_col).isNotNull()), cand, q, len(rows) * k * shortlist_factor,
        k, id_col, emb_col, query_id_col,
    )


def _exact_rerank(
    rows: DataFrame,
    shortlist: DataFrame,
    q: DataFrame,
    n_shortlist: int,
    k: int,
    id_col: str,
    emb_col: str,
    query_id_col: str,
) -> DataFrame:
    """The exact re-rank tail of every PQ search: fetch the true vectors
    of the shortlisted (query_id_col, neighbor_id) pairs from ``rows``,
    score exact squared L2 against the query vectors ``q``
    (query_id_col, ``__q``) and rank the ``k`` best.

    The shortlist is |Q| × k × factor rows — NOT bounded by the query
    side's bound (100k queries × k=5 × factor=10 is already 5M rows), so it
    broadcasts only when its known size ``n_shortlist`` is under
    SHORTLIST_BROADCAST_MAX_ROWS (the point-read shape); above it the
    fetch is a plain equi-join, which AQE plans as a shuffle on ids."""
    if n_shortlist <= SHORTLIST_BROADCAST_MAX_ROWS:
        shortlist = F.broadcast(shortlist)
    fetched = rows.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(emb_col)).alias("__n")
    ).join(shortlist, on="neighbor_id")
    scored = fetched.join(F.broadcast(q), on=query_id_col).withColumn(
        "l2_dist", F.round(_sq_dist_cols(F.col("__n"), F.col("__q")), 6)
    )
    return _top_k(scored, "l2_dist", k, "neighbor_id", query_id_col).select(
        query_id_col, "neighbor_id", "l2_dist", "rnk"
    )


# ---------------------------------------------------------------------------
# IVF + PQ combined index — the full FAISS IVFPQ layout (Jégou et al.
# 2011 §V): the coarse quantizer bounds I/O (a probe reads only
# n_probe/n_cells of the index, partition-pruned), PQ bounds memory
# (the scanned rows are m small ints each, 32× smaller than vectors at
# D=64), and an exact re-rank of the shortlist recovers recall. PQ
# encodes the RESIDUAL x − centroid(cell), not x itself — residuals
# concentrate near 0 so the same codebook budget quantizes them with
# far less error than raw vectors (the core IVFPQ insight).
def _lloyd_numpy(X, k: int, iters: int):
    """Seeded Lloyd k-means on a driver-side sample matrix: seeds = the
    first ``k`` rows (callers pass id-sorted samples, so the lowest-id
    vectors — the ``kmeans_lloyd``/``pq_train`` seeding doctrine), empty
    clusters keep their previous centroid, numpy argmin breaks distance
    ties to the lowest index (matching ``_ivfpq_assign``'s SQL rule).
    Exits early on EXACT convergence — a fixed point is permanent under
    these rules (same centroids → same assignment → same means), so the
    early exit can never change the result of a fixed-iteration run.
    """
    C = X[:k].copy()
    for _ in range(iters):
        lab = _nearest_numpy(X, C)
        new_c = np.stack(
            [
                X[lab == c].mean(axis=0) if (lab == c).any() else C[c]
                for c in range(k)
            ]
        )
        converged = bool((new_c == C).all())
        C = new_c
        if converged:
            break
    return C


def _nearest_numpy(X, C):
    """Nearest row of ``C`` for every row of ``X`` (numpy argmin: the
    lowest index on a tie). The matmul distance identity keeps memory
    O(n·k): the naive (n, k, D) broadcast is 13 GB at the 100k-row
    bound × 256 cells."""
    d2 = (X * X).sum(axis=1, keepdims=True) + (C * C).sum(axis=1)[None, :]
    return (d2 - 2.0 * (X @ C.T)).argmin(axis=1)


def _fit_coarse_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    emb_col: str,
    seed: int,
    max_train_rows: int = MAX_QUANTIZER_TRAIN_ROWS,
    iters: int = 20,
):
    """Coarse-quantizer k-means, the faiss shape shared by every IVF /
    IVFPQ build: bound the training input to a deterministic
    hash-sample (xxhash64 of the id + seed — ``sample()`` would re-draw
    on recompute), collect it SORTED BY ID, and run Lloyd driver-side
    in numpy. Seeds = the ``n_cells`` lowest-id vectors; empty cells
    keep their previous centroid (the ``kmeans_lloyd`` rule); numpy
    argmin breaks distance ties toward the lowest cell, matching
    ``_ivfpq_assign``'s SQL contract. NULL embeddings are unindexable
    and excluded, uniform with assignment.

    The hash-sample targets ``max_train_rows`` rows in EXPECTATION
    (Bernoulli thresholding lands within ~±√max_train_rows of it), so
    the collect is bounded up to that fluctuation (~50 MB at D=64) —
    quantizers train small and in memory while assignment/encoding
    stay distributed. A sorted collect has no partition dependence.

    Returns ``(centroid_list, X)`` — the centroids as plain lists for
    SQL literal assignment, and the collected sample matrix for
    callers that train further quantizers on the same rows (residual
    PQ)."""
    corpus = corpus.where(F.col(emb_col).isNotNull())
    n = corpus.count()
    train = corpus
    if n > max_train_rows:
        thresh = int((max_train_rows / n) * (2**32))
        train = corpus.where(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(2**32)) < thresh
        )
    sample = (
        ensure_min_partitions(train)
        .select(
            F.col(id_col).alias("__tid"),
            _as_double(F.col(emb_col)).alias("__v"),
        )
        .orderBy("__tid")
        .collect()
    )
    if len(sample) < n_cells:
        raise ValueError(
            f"coarse quantizer: need >= {n_cells} vectors to seed "
            f"{n_cells} cells, got {len(sample)}"
        )
    X = np.asarray([r["__v"] for r in sample], dtype=np.float64)
    C = _lloyd_numpy(X, n_cells, iters)
    return [[float(x) for x in c] for c in C], X


def _write_centroids(spark, path: str, centroid_list) -> DataFrame:
    """Write an index's coarse quantizer to ``{path}/centroids`` as
    (cell INT, centroid ARRAY<DOUBLE>) — one Arrow frame, one file —
    and return the frame. Both index kinds write through here."""
    centroids = arrow_local_df(
        spark,
        {"cell": list(range(len(centroid_list))), "centroid": centroid_list},
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def _ivfpq_train(
    corpus: DataFrame,
    path: str,
    n_cells: int,
    m: int,
    k_codes: int,
    pq_iters: int,
    id_col: str,
    emb_col: str,
    seed: int,
    max_train_rows: int = MAX_QUANTIZER_TRAIN_ROWS,
):
    """Shared IVFPQ training pipeline (both index storages): fit the
    seeded k-means coarse quantizer and the residual PQ codebooks on a
    bounded deterministic sample (see MAX_QUANTIZER_TRAIN_ROWS), assign
    every corpus vector through the SAME SQL argmin that appends use
    (``_ivfpq_assign`` — so a tie vector gets one cell no matter when
    or how it arrives; the lowest-cell rule is the contract), write the
    immutable quantizer artifacts, and hand back ``(books, encoded,
    cached)`` where encoded = (id, embedding, pq_codes, cell) over the
    FULL corpus and cached is the persisted frame the caller must
    unpersist after writing.

    Both quantizers train DRIVER-SIDE (numpy Lloyd over the collected
    sample, seeded with the lowest-id vectors — the
    ``pq_train``/``kmeans_lloyd`` seeding doctrine): the training input
    is bounded by construction, so collecting it is the faiss design —
    train the quantizer small and in memory, keep assignment and
    encoding distributed. The residual codebooks follow ``pq_train``'s
    rules (empty codes keep their previous centroid, ties to the lowest
    code) on residuals of the FINAL coarse assignment."""
    spark = corpus.sparkSession
    centroid_list, X = _fit_coarse_centroids(
        corpus, n_cells, id_col, emb_col, seed, max_train_rows
    )
    C = np.asarray(centroid_list, dtype=np.float64)
    _write_centroids(spark, path, centroid_list)
    assigned = _ivfpq_assign(corpus, centroid_list, id_col, emb_col).persist()
    if X.shape[0] < k_codes:
        raise ValueError(
            f"ivfpq build: need >= {k_codes} vectors to seed {k_codes} codes"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    R = X - C[_nearest_numpy(X, C)]
    books = [
        [
            [float(x) for x in c]
            for c in _lloyd_numpy(R[:, j * d_sub : (j + 1) * d_sub], k_codes, pq_iters)
        ]
        for j in range(m)
    ]
    arrow_local_df(
        spark,
        {
            "sub": [j for j in range(m) for _ in range(k_codes)],
            "code": [c for _ in range(m) for c in range(k_codes)],
            "centroid": [books[j][c] for j in range(m) for c in range(k_codes)],
        },
        "sub INT, code INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    encoded = _pq_encode(assigned, F.col("__resid"), books).select(
        id_col, emb_col, "pq_codes", "cell"
    )
    return books, encoded, assigned


def ivfpq_build_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    k_codes: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = MAX_QUANTIZER_TRAIN_ROWS,
) -> list[list[list[float]]]:
    """Build the plain-parquet IVFPQ index (``_ivfpq_train`` for the
    pipeline): rows land per cell directory (``{path}/data/cell=<i>/``)
    so probes partition-prune, plus the tiny centroid and codebook
    tables. The embedding column rides along for the re-rank
    point-read; a probe's ADC scan never reads it (column pruning —
    pinned in tests). The residual frame persists for the duration of
    the build only.

    Returns the codebooks for convenience."""
    books, encoded, cached = _ivfpq_train(
        corpus, path, n_cells, m, k_codes, pq_iters, id_col, emb_col, seed,
        max_train_rows=max_train_rows,
    )
    try:
        (
            encoded.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/data")
        )
    finally:
        cached.unpersist()
    return books


def _load_codebooks(spark, path: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.sub for r in rows)
    k_codes = 1 + max(r.code for r in rows)
    books: list[list[list[float]]] = [[None] * k_codes for _ in range(m)]
    for r in rows:
        books[r.sub][r.code] = [float(x) for x in r.centroid]
    return books


# Warm-probe quantizer cache: (path, artifact mtimes) → driver-side
# artifacts (quantizers, index row counts, the probe constants frame).
# Artifacts are immutable once written (rebuilds rewrite the files,
# changing mtime), so keying on mtime makes entries safely invalidate
# on rebuild while repeated probes against the same index skip the
# driver collects. ONE bounded insertion-order eviction policy for
# every entry class.
_QUANTIZER_CACHE: dict[tuple, object] = {}
MAX_QUANTIZER_CACHE_ENTRIES = 8


def _quantizer_cache_put(key: tuple, value) -> None:
    while len(_QUANTIZER_CACHE) >= MAX_QUANTIZER_CACHE_ENTRIES:
        evicted = _QUANTIZER_CACHE.pop(next(iter(_QUANTIZER_CACHE)))
        # _probe_const_df entries are PERSISTED DataFrames; dropping the
        # dict reference alone leaks the InMemoryRelation in Spark's
        # CacheManager for the life of the session. A live probe that
        # lost its entry mid-flight just recomputes the 1-row frame.
        if hasattr(evicted, "unpersist"):
            evicted.unpersist()
    _QUANTIZER_CACHE[key] = value


def _artifact_sig(path: str, sub: str) -> tuple:
    # (name, st_mtime_ns, st_size) per file — not bare mtime: a rebuild
    # landing inside filesystem mtime granularity, or artifacts copied
    # with preserved mtimes, would collide on mtime alone; nanosecond
    # resolution plus the byte size makes a stale-cache collision
    # require same-instant same-length rewrites.
    import os

    d = os.path.join(path, sub)
    try:
        names = sorted(os.listdir(d))
        sig = []
        for n in names:
            st = os.stat(os.path.join(d, n))
            sig.append((n, st.st_mtime_ns, st.st_size))
        return (sub,) + tuple(sig)
    except OSError:
        return (sub, None)


def _probe_const_df(spark, centroid_list, books) -> DataFrame:
    """ONE-row persisted frame carrying the probe constants
    (``__cents`` = cell-indexed centroids, ``__books`` = PQ codebooks).

    Why a frame and not literals: a 64×64 centroid + 8×16×8 codebook
    literal tree is ~5k Catalyst nodes that the analyzer re-walks on
    EVERY probe's plan (~1.3 s of the warm probe's fixed cost).
    Referencing the constants as columns of a broadcast 1-row
    relation shrinks each probe plan to a handful of nodes; the
    CacheManager substitutes the persisted InMemoryRelation, so the
    per-probe execution cost is one 1-row broadcast — the BM25
    corpus-stats pattern. Session-keyed (applicationId): the persisted
    plan dies with the JVM."""
    # content key: md5 over the exact float reprs (repr round-trips
    # doubles, so distinct quantizers collide only with md5 itself)
    sig = hashlib.md5(repr((centroid_list, books)).encode()).hexdigest()
    key = ("probe_consts", spark.sparkContext.applicationId, sig)
    df = _QUANTIZER_CACHE.get(key)
    if df is None:
        df = arrow_local_df(
            spark,
            {"__cents": [centroid_list], "__books": [books]},
            "__cents array<array<double>>, "
            "__books array<array<array<double>>>",
        ).persist()
        df.count()  # materialize once; later probes only broadcast it
        _quantizer_cache_put(key, df)
    return df


def _load_quantizer(spark, path: str, with_books: bool = True):
    """(cell-indexed centroid list, codebooks) of an index directory —
    codebooks ``None`` for ``with_books=False`` (the centroid-only IVF
    index). The one quantizer loader: cached in ``_QUANTIZER_CACHE`` on
    the artifacts' signature, so a warm probe or a streaming ingest's
    next micro-batch reads nothing."""
    key = (path, with_books, _artifact_sig(path, "centroids"))
    if with_books:
        key += (_artifact_sig(path, "codebooks"),)
    hit = _QUANTIZER_CACHE.get(key)
    if hit is None:
        rows = spark.read.parquet(f"{path}/centroids").collect()
        clist = [[float(x) for x in r.centroid] for r in sorted(rows, key=lambda r: r.cell)]
        hit = (clist, _load_codebooks(spark, path) if with_books else None)
        _quantizer_cache_put(key, hit)
    return hit


def ivfpq_probe_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist_factor: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Probe an IVFPQ index (squared-L2 metric; normalize embeddings
    first when cosine ranking is wanted):

    1. rank cells per query by exact centroid distance on the driver
       (``_rank_cells`` over the collected query side), keep
       ``n_probe``;
    2. build each (query, cell) pair's ADC lookup table from the
       query's RESIDUAL in that cell — |Q| × n_probe rows, each
       m × k_codes doubles, broadcast;
    3. ADC-score a partition-pruned scan of the probed cells that reads
       ONLY (cell, id, pq_codes) — never the embedding column — and
       shortlist ``k × shortlist_factor`` per query;
    4. exact re-rank: fetch just the shortlisted rows' true vectors
       (second pruned scan, id-keyed point-read; broadcast conditional
       on the known shortlist bound, as in ``pq_topk_refined``).

    The driver holds the query side, the quantizers and the probed-cell
    set for the partition predicate; every corpus-scale structure stays
    distributed. Quantizer artifacts load through
    ``_load_quantizer``, so warm probes against the same index skip the
    two driver collects."""
    clist, books = _load_quantizer(spark, path)

    def scan_for(cells):
        return spark.read.parquet(f"{path}/data").where(F.col("cell").isin(cells))

    return _ivfpq_probe_core(
        clist, books, scan_for, queries,
        k=k, n_probe=n_probe, shortlist_factor=shortlist_factor,
        id_col=id_col, emb_col=emb_col, query_id_col=query_id_col,
    )


# Below this corpus size an exact scan beats an IVFPQ probe on wall
# clock: the probe pays ~2-3 s of fixed cost (plan analysis, broadcast
# builds, window shuffles) that a brute-force scan simply doesn't
# have, while its per-row saving only amortizes over millions of rows
# (measured at sf1 — SCALING.md §ANN; matches FAISS practice).
AUTO_INDEX_MIN_ROWS = 1_000_000


def ann_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    shortlist_factor: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Serve squared-L2 top-k from an IVFPQ index directory with
    FAISS-style dispatch by corpus size: a parquet COUNT over the index
    data (a metadata-only job: row counts come from footers) against
    ``AUTO_INDEX_MIN_ROWS``. Small indexes scan their stored embeddings
    brute-force (exact answers, zero probe overhead); large ones take
    the pruned ADC probe. Both paths return the same schema (query id,
    neighbor_id, l2_dist, rnk)."""
    # the row count is immutable until the index is rewritten: cache it
    # on the data dir's signature so warm dispatch pays no job
    key = (path, "rowcount", _artifact_sig(path, "data"))
    n_rows = _QUANTIZER_CACHE.get(key)
    if n_rows is None:
        n_rows = spark.read.parquet(f"{path}/data").count()
        _quantizer_cache_put(key, n_rows)
    if n_rows >= AUTO_INDEX_MIN_ROWS:
        return ivfpq_probe_topk(
            spark, path, queries,
            k=k, n_probe=n_probe, shortlist_factor=shortlist_factor,
            id_col=id_col, emb_col=emb_col, query_id_col=query_id_col,
        )
    corpus = spark.read.parquet(f"{path}/data").select(id_col, emb_col)
    return brute_force_l2_topk(
        corpus, queries, k=k,
        id_col=id_col, emb_col=emb_col, query_id_col=query_id_col,
    ).select(query_id_col, "neighbor_id", F.col("l2_sq").alias("l2_dist"), "rnk")


# Below this many queries the probe computes the ADC LUTs DRIVER-SIDE
# (numpy over the driver-known quantizers and the frozen query rows)
# and ships them as one Arrow frame: for a serving-sized query batch
# the executor-side LUT subtree (constants crossJoin, residual and LUT
# projections) is fixed cost that computes a few hundred rows. Past the
# bound the SQL pipeline takes over (LUT bytes grow as |Q| × n_probe ×
# m × k_codes; at the 100k query bound that is ~800 MB, which belongs
# on executors).
PROBE_DRIVER_LUT_MAX_QUERIES = 1024


def _driver_luts(qids, Q, cells, centroid_list, books):
    """The driver back-end of the probe's step 2: ``_with_cells(qids,
    cells)`` plus the ADC LUT columns ``__lut{j}`` of every (query, cell)
    pair, scored on the residual q − centroid(cell) with ``_np_fold`` —
    bit-identical to the executor back-end's ``_adc_luts``."""
    import pyarrow as pa

    C = np.asarray(centroid_list, dtype=np.float64)
    B = np.asarray(books, dtype=np.float64)  # m × k_codes × d
    m, k_codes, d = B.shape
    resid = (Q[:, None, :] - C[cells]).reshape(-1, Q.shape[1])
    out = _with_cells(qids, cells)
    offsets = pa.array(np.arange(0, len(resid) * k_codes + 1, k_codes, dtype=np.int32))
    for j in range(m):
        lut = _np_fold(resid[:, None, j * d : (j + 1) * d], B[j][None], _sq_term)
        out = out.append_column(
            f"__lut{j}", pa.ListArray.from_arrays(offsets, pa.array(lut.ravel()))
        )
    return out


def _ivfpq_probe_core(
    centroid_list: list[list[float]],
    books: list[list[list[float]]],
    scan_for,
    queries: DataFrame,
    k: int,
    n_probe: int,
    shortlist_factor: int,
    id_col: str,
    emb_col: str,
    query_id_col: str,
) -> DataFrame:
    """Steps 1–4 of the IVFPQ probe, index-storage-agnostic:
    ``scan_for(probe_cells)`` returns the pruned (cell, id, embedding,
    pq_codes) frame — a partition-pruned ``spark.read.parquet`` for the
    plain index, a file-skipping ``read_where`` for the versioned one.

    Step 1 ranks cells on the driver over the frozen query rows
    (``_rank_cells``, squared L2). Step 2's per-(query, cell) LUTs come
    from numpy for up to PROBE_DRIVER_LUT_MAX_QUERIES queries
    (``_driver_luts``); past that, executors compute the residuals and
    LUTs from the (query, cell) local frame against the quantizers
    riding ``_probe_const_df``."""
    spark = queries.sparkSession
    m, d = len(books), len(books[0][0])
    rows, q = _l2_query_side(
        queries, id_col, emb_col, query_id_col, "ivfpq_probe_topk"
    )
    Q = _vectors(rows, "__q", len(centroid_list[0]))
    cells = _rank_cells(Q, centroid_list, n_probe, "l2")
    if len(rows) <= PROBE_DRIVER_LUT_MAX_QUERIES:
        q_lut = F.broadcast(
            arrow_local_df(
                spark,
                _driver_luts(rows.select([query_id_col]), Q, cells, centroid_list, books),
            )
        )
    else:
        # The quantizers ride `_probe_const_df` — a persisted, broadcast
        # 1-row frame — so the expressions below reference the
        # `__cents` / `__books` COLUMNS and the plan stays a handful of
        # nodes. They project the (query, cell) pairs, never the corpus.
        const_df = _probe_const_df(spark, centroid_list, books)
        resid = F.zip_with(
            F.col("__q"),
            F.element_at(F.col("__cents"), F.col("cell") + 1),
            lambda a, b: a - b,
        )
        q_lut = (
            arrow_local_df(spark, _with_cells(rows, cells))
            .crossJoin(F.broadcast(const_df))
            .select(query_id_col, "cell", resid.alias("__resid"), "__books")
            .select(
                query_id_col, "cell", *_adc_luts(F.col("__resid"), F.col("__books"), m, d)
            )
        )
        # q_lut is |Q| × n_probe rows of m × k_codes doubles — n_probe×
        # BIGGER than the query side, so the broadcast hint is
        # conditional on the inflated row count; past the bound the band
        # join falls back to a plain equi-join on cell (AQE re-plans)
        if len(rows) * n_probe <= MAX_BROADCAST_QUERIES:
            q_lut = F.broadcast(q_lut)
    # Steps 3–4: ADC-score the pruned scan's codes — ONLY (cell, id,
    # pq_codes), never the embedding column — shortlist k × factor per
    # query, then the exact re-rank from the same pruned relation (one
    # scan_for call: a second paid the footer/schema resolution twice).
    pruned = scan_for(np.unique(cells).tolist())
    shortlist = _adc_topk(
        pruned.select("cell", id_col, "pq_codes").join(q_lut, on="cell"),
        m, k * shortlist_factor, id_col, query_id_col, rank_col="srnk",
    ).select(query_id_col, F.col(id_col).alias("neighbor_id"))
    return _exact_rerank(
        pruned, shortlist, q, len(rows) * k * shortlist_factor, k,
        id_col, emb_col, query_id_col,
    )


def _ivfpq_assign(
    vectors: DataFrame,
    centroid_list: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its exact nearest centroid (``_argmin``,
    lowest cell on a tie, matching numpy argmin) and attach the PQ
    residual — a ZERO-SHUFFLE projection: centroids are tiny and
    driver-known, riding a broadcast 1-row constants frame, so the
    argmin is an expression over the centroid column and the residual
    subtraction one ``element_at`` into it. No full-corpus exchange on
    the unique id, which at 100 TB is the difference between an assign
    pass that streams and one that re-sorts the table.

    NULL embeddings (e.g. ``l2_normalize``d zero vectors — no
    direction) are unindexable: they are filtered here, uniformly
    across build, append and ingest, rather than silently landing in a
    NULL cell partition no probe would ever read."""
    cdf = _nested_const_df(vectors.sparkSession, "__acents", centroid_list, 2)
    return (
        ensure_min_partitions(vectors)
        .where(F.col(emb_col).isNotNull())
        .select(F.col(id_col), F.col(emb_col), _as_double(F.col(emb_col)).alias("__e"))
        .crossJoin(F.broadcast(cdf))
        .withColumn("cell", _argmin(_dists_to(F.col("__e"), F.col("__acents"))))
        .withColumn(
            "__resid",
            F.zip_with(
                F.col("__e"),
                F.element_at(F.col("__acents"), F.col("cell") + 1),
                lambda a, b: a - b,
            ),
        )
        .drop("__e", "__acents")
    )


class VersionedIvfPqIndex:
    """IVFPQ index whose data rows live in a ``VersionedTable``
    partitioned by cell — the index itself becomes a lakehouse table:

    - **incremental maintenance**: new vectors are assigned to the
      frozen coarse-quantizer cells and PQ-encoded with the frozen
      codebooks (no retrain), then appended transactionally;
      ``ingest()`` is exactly-once under foreachBatch replay
      (``idempotent_append``), so a crawl's embedding stream can feed
      the ANN index directly;
    - **time travel**: ``probe(version=...)`` answers "what were the
      neighbors as of yesterday's index" — the reproducibility story a
      training-data pipeline needs when a run must be replayed;
    - **pruned probes**: the probe reads only the probed cells via
      ``read_where(('cell', 'in', cells))`` — hive-path file skipping,
      the VersionedTable analogue of PartitionFilters.

    Quantizer artifacts (centroids, codebooks) are immutable once
    trained — appending never changes existing cell assignments, so a
    probe is comparable across index versions. Retraining (cell-count
    changes, drifted corpus) is a rebuild.

    At 100 TB: appends touch only the appended rows (assign + encode
    is one scan of the batch); the commit log caps at O(files);
    probes read n_probe/n_cells of the files regardless of how many
    increments built the index."""

    APP_ID = "ivfpq_ingest"

    def __init__(self, spark, path: str):
        from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

        self.spark = spark
        self.path = str(path)
        self.table = VersionedTable(spark, f"{self.path}/data_vt")

    # ------------------------------------------------------------ build
    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        n_cells: int = 16,
        m: int = 8,
        k_codes: int = 16,
        pq_iters: int = 2,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        seed: int = 42,
        max_train_rows: int = MAX_QUANTIZER_TRAIN_ROWS,
    ) -> "VersionedIvfPqIndex":
        """Train quantizers via the shared ``_ivfpq_train`` pipeline
        and create the index table at version 0."""
        spark = corpus.sparkSession
        _, encoded, cached = _ivfpq_train(
            corpus, path, n_cells, m, k_codes, pq_iters, id_col, emb_col, seed,
            max_train_rows=max_train_rows,
        )
        try:
            idx = cls(spark, path)
            idx.table.create(encoded, partition_by=["cell"])
        finally:
            cached.unpersist()
        return idx

    # ---------------------------------------------------------- quantize
    def encode(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
    ) -> DataFrame:
        """(id, embedding, pq_codes, cell) for new vectors under the
        index's frozen quantizers (immutable once trained, so
        ``_load_quantizer`` serves every micro-batch after the first
        from its cache)."""
        clist, books = _load_quantizer(self.spark, self.path)
        return _pq_encode(
            _ivfpq_assign(vectors, clist, id_col, emb_col), F.col("__resid"), books
        ).select(id_col, emb_col, "pq_codes", "cell")

    # ------------------------------------------------------------ append
    def append(self, vectors: DataFrame, id_col: str = "vec_id",
               emb_col: str = "embedding") -> "VersionedIvfPqIndex":
        """One transactional index increment (one commit)."""
        self.table.append(self.encode(vectors, id_col, emb_col))
        return self

    def ingest(
        self,
        vectors: DataFrame,
        batch_id: int,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
    ) -> bool:
        """Exactly-once streaming increment (foreachBatch contract): a
        replayed batch id no-ops. Returns whether the batch applied."""
        return self.table.idempotent_append(
            self.encode(vectors, id_col, emb_col),
            app_id=self.APP_ID,
            batch_id=batch_id,
        )

    # ------------------------------------------------------- maintenance
    def compact(
        self,
        target_partitions: int | None = None,
        target_file_size_bytes: int | None = None,
    ) -> "VersionedIvfPqIndex":
        """Heal small-file buildup from many ingest increments:
        OPTIMIZE with Z-order-lite on ``cell``. Compaction drops the
        hive cell directories, but the range-sort gives every output
        file a tight cell min/max, so ``read_where``'s footer-stats
        skipping replaces hive-path pruning — probes stay pruned,
        results stay identical (purely physical rewrite). Size outputs
        with Delta's binSize knob (``target_file_size_bytes``, ~1 GiB
        at 100 TB) so compaction never collapses a big index into one
        unparallel file."""
        self.table.optimize(
            zorder_by=["cell"],
            target_partitions=target_partitions,
            target_file_size_bytes=target_file_size_bytes,
        )
        return self

    def forget(
        self, ids, id_col: str = "vec_id", use_dv: bool = True
    ) -> "VersionedIvfPqIndex":
        """Deletion requests against the ANN index (the
        right-to-be-forgotten shape): remove vectors by id. With
        deletion vectors (default) a request writes O(matched rows) of
        tombstones and leaves every data file byte-identical — the only
        affordable cadence for frequent small deletes on a 100 TB
        index; probes anti-join the tombstones away immediately. A
        later ``compact()`` (or ``purge_deletion_vectors``) folds them
        physically."""
        def lit(v) -> str:
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, (int, float)):
                return str(v)
            return "'" + str(v).replace("'", "''") + "'"

        vals = ", ".join(lit(i) for i in ids)
        if not vals:
            return self
        self.table.delete(f"`{id_col}` IN ({vals})", use_dv=use_dv)
        return self

    # ------------------------------------------------------------- probe
    def probe(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        shortlist_factor: int = 10,
        version: int | None = None,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        query_id_col: str = "q_id",
    ) -> DataFrame:
        """IVFPQ probe over the index snapshot (current, or as-of
        ``version``). Identical math/plan to ``ivfpq_probe_topk`` —
        only the pruned-scan source differs (read_where file skipping
        on the hive cell paths)."""
        clist, books = _load_quantizer(self.spark, self.path)

        def scan_for(cells):
            return self.table.read_where(("cell", "in", cells), version=version)

        return _ivfpq_probe_core(
            clist, books, scan_for, queries,
            k=k, n_probe=n_probe, shortlist_factor=shortlist_factor,
            id_col=id_col, emb_col=emb_col, query_id_col=query_id_col,
        )



def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k highest-cosine vectors with a DIFFERENT label — the negatives
    that sit closest to the decision boundary and carry the most
    gradient signal (the standard in-batch-negatives upgrade). Same
    scale shape as `brute_force_topk` (queries broadcast, one corpus
    scan, per-query ranking window); the label-inequality predicate
    runs BEFORE the window so every query still yields k rows whenever
    k different-label vectors exist."""
    _, q = _query_side(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(emb_col).alias("q_emb"),
            F.col(label_col).alias("q_label"),
        ),
        "hard_negatives",
    )
    scored = (
        ensure_min_partitions(corpus)
        .crossJoin(F.broadcast(q))
        .where(
            (F.col(id_col) != F.col(query_id_col))
            & (F.col(label_col) != F.col("q_label"))
        )
        .withColumn("cos_sim", F.round(cosine(F.col(emb_col), F.col("q_emb")), 6))
    )
    return _top_k(scored, "cos_sim", k, id_col, query_id_col, desc=True).select(
        query_id_col,
        "q_label",
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        "cos_sim",
        "rnk",
    )


def mmr_select(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein '98)
    at fixed λ = 1/2: greedily pick ``k`` results from each query's
    exact-cosine top-``pool`` so that round r maximizes
    (sim_to_query − max_sim_to_already_selected) / 2 — the diversity-
    aware re-rank retrieval stacks run after ANN (dedupe the context
    window, not just rank it). Returns (q_id, neighbor_id, cos_sim,
    select_rank) with select_rank 1..k per query.

    λ is pinned to 1/2 because halving is EXACT in IEEE doubles: both
    score terms are round-6 cosines, so (a − b)/2 is bit-identical
    cross-engine and a DuckDB oracle replays every greedy round as
    unrolled CTEs (the PageRank doctrine applied to a ranking loop).
    Ties break on neighbor_id.

    Scale shape: the expensive work is the already-verified top-pool
    subtree (one corpus scan, broadcast queries) and an O(pool²)-per-
    query pairwise frame — both checkpointed once; the k−1 greedy
    rounds then run window + semi/anti joins over O(queries × pool)
    rows, independent of corpus size. All rounds are vectorized ACROSS
    queries (partitionBy(q_id) windows), so ten thousand queries cost
    the same number of Spark jobs as one."""
    cand = brute_force_topk(
        corpus, queries, k=pool, id_col=id_col, emb_col=emb_col
    ).localCheckpoint(eager=True)
    emb_a = corpus.select(
        F.col(id_col).alias("id_a"), F.col(emb_col).alias("__ea")
    )
    emb_b = corpus.select(
        F.col(id_col).alias("id_b"), F.col(emb_col).alias("__eb")
    )
    x = cand.select("q_id", F.col("neighbor_id").alias("id_a"))
    y = cand.select("q_id", F.col("neighbor_id").alias("id_b"))
    pair = (
        x.join(y, "q_id")
        .where(F.col("id_a") != F.col("id_b"))
        .join(emb_a, "id_a")
        .join(emb_b, "id_b")
        .select(
            "q_id",
            "id_a",
            "id_b",
            F.round(cosine(F.col("__ea"), F.col("__eb")), 6).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    sel = cand.where(F.col("rnk") == 1).select(
        "q_id", "neighbor_id", "cos_sim", F.lit(1).alias("select_rank")
    )
    for r in range(2, k + 1):
        maxsel = (
            pair.join(
                sel.select("q_id", F.col("neighbor_id").alias("id_b")),
                ["q_id", "id_b"],
                "semi",
            )
            .groupBy("q_id", "id_a")
            .agg(F.max("sim").alias("mx"))
            .select("q_id", F.col("id_a").alias("neighbor_id"), "mx")
        )
        rem = cand.join(
            sel.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"], "anti"
        )
        winner = _top_k(
            rem.join(maxsel, ["q_id", "neighbor_id"]),
            (F.col("cos_sim") - F.col("mx")) / 2, 1, "neighbor_id", "q_id",
            desc=True, rank_col="rn",
        ).select("q_id", "neighbor_id", "cos_sim", F.lit(r).alias("select_rank"))
        # sel feeds the next round's semi AND anti joins — truncate the
        # (tiny, O(queries·r)) frame so the plan stays linear in k.
        sel = sel.unionByName(winner).localCheckpoint(eager=True)
    return sel


# nDCG discount table: SCALE/log2(rank+1) frozen as INTEGER literals at
# import time, so neither engine ever evaluates log2 at query time —
# gains become order-free BIGINT sums and the only float in the whole
# metric battery is the final single ndcg division. (Embedding the same
# constants in the DuckDB oracle removes the cross-engine libm hazard.)
EVAL_SCALE = 10**6


def _ndcg_discounts(k: int) -> list[int]:
    import math

    return [round(EVAL_SCALE / math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_eval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval evaluation harness: per query, run exact cosine
    top-``k`` and grade it against label-match relevance — hits@k, the
    first relevant rank, integer-scaled MRR (SCALE div rank), DCG with
    frozen integer discounts, and nDCG against the binary-gain ideal
    (all hits packed at the top = a prefix sum of the discount table).
    The eval loop every ANN/retrieval change should close with; run it
    over the exact scorer to grade embeddings, or over an ANN variant
    to grade the index.

    Returns (q_id, q_label, p_at_k_hits, first_rel_rank [0 = none],
    mrr_micros, dcg_scaled, ndcg). Everything is BIGINT except the one
    final rounded ndcg division. Scale shape: one verified top-k
    subtree + two broadcast label joins + one groupBy over
    O(queries × k) rows."""
    D = _ndcg_discounts(k)
    P = [sum(D[:j]) for j in range(k + 1)]  # P[0] = 0
    d_arr = "array(" + ", ".join(f"{d}L" for d in D) + ")"
    p_arr = "array(" + ", ".join(f"{p}L" for p in P[1:]) + ")"
    q_labels = queries.select(
        F.col(id_col).alias("q_id"), F.col(label_col).alias("q_label")
    )
    n_labels = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
    )
    cand = (
        brute_force_topk(corpus, queries, k=k, id_col=id_col, emb_col=emb_col)
        .join(F.broadcast(q_labels), "q_id")
        .join(n_labels, "neighbor_id")
        .withColumn(
            "rel",
            F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0),
        )
    )
    m = cand.groupBy("q_id", "q_label").agg(
        F.sum("rel").cast("bigint").alias("p_at_k_hits"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0)
        ).cast("bigint").alias("first_rel_rank"),
        F.sum(
            F.col("rel") * F.expr(f"element_at({d_arr}, rnk)")
        ).cast("bigint").alias("dcg_scaled"),
    )
    return m.select(
        "q_id",
        "q_label",
        "p_at_k_hits",
        "first_rel_rank",
        F.expr(
            f"CAST(CASE WHEN first_rel_rank > 0 THEN {EVAL_SCALE}L div first_rel_rank "
            "ELSE 0L END AS BIGINT)"
        ).alias("mrr_micros"),
        "dcg_scaled",
        F.expr(
            f"CASE WHEN p_at_k_hits > 0 THEN round(CAST(dcg_scaled AS DOUBLE)"
            f" / element_at({p_arr}, CAST(p_at_k_hits AS INT)), 6) ELSE 0.0 END"
        ).alias("ndcg"),
    )
