"""LLM-op semantics on hand-built frames where ground truth is obvious:
near-dup detection actually finds planted near-duplicates, exact dedup
keeps the right row, similarity search returns the nearest vector, and
the multimodal stub decodes deterministically."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.llm import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near-dup of 1
        (4, "completely different text about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4]
    groups = {r.keeper_id: r.n_copies for r in dedup.exact_dedup_groups(docs).collect()}
    assert groups[1] == 2 and groups[3] == 1


def test_minhash_near_dup_finds_planted_pair(docs):
    pairs = dedup.near_dup_pairs(docs, threshold=0.5, bands=8)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in found  # exact dup always collides
    assert (1, 3) in found or (2, 3) in found  # near-dup caught
    assert all(4 not in p for p in found)  # unrelated doc never pairs


def test_simhash_near_dup(docs):
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in found
    hams = {p: r for p, r in ((tuple((x.id_a, x.id_b)), x.hamming) for x in pairs.collect())}
    assert hams[(1, 2)] == 0


def test_jaccard_values(docs):
    pairs = docs.select(F.lit(1).alias("id_a"), F.lit(2).alias("id_b")).limit(1)
    j = dedup.jaccard_pairs(docs, pairs).collect()[0]
    assert j.jaccard == 1.0


def test_brute_force_topk_finds_nearest(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),  # nearest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.brute_force_topk(emb, emb.where("vec_id = 1"), k=2)
    got = [(r.neighbor_id, r.rnk) for r in out.orderBy("rnk").collect()]
    assert got[0][0] == 2 and got[1][0] == 3


def test_lsh_bucket_respects_signs(spark):
    rows = [(1, [1.0, 1.0]), (2, [1.0, -1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b = emb.select(similarity.sign_lsh_bucket(F.col("embedding"), 2).alias("b")).collect()
    assert b[0].b == 3 and b[1].b == 1


def test_lang_id_markers(spark):
    rows = [
        (1, "the cat and the dog of the house"),
        (2, "el perro y la casa de los gatos"),
        (3, "zzz qqq www"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.pred_lang for r in text.with_lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


def test_multimodal_stub_decode(spark):
    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    assets = multimodal.attach_binary_payload(df)
    feats = multimodal.extract_features(assets, fake=True).collect()[0]
    assert feats.n_bytes == 3
    assert feats.checksum == sum(b"abc")
    assert len(feats.features) == multimodal.FEATURE_DIM
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_stub(b"x", fake=False)


def test_quality_score_orders_sensibly(spark):
    rows = [
        (1, "the report describes a detailed analysis of the query engine and it covers many cases " * 3),
        (2, "@@@ ### !!! $$$ %%%"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.quality_score for r in text.with_quality_score(df).collect()}
    assert got[1] > got[2]


@pytest.mark.slow
def test_ann_topk_auto_dispatch(spark, tmp_path, monkeypatch):
    # FAISS-style auto dispatch: small index -> exact scan (identical
    # to brute force over the stored vectors); forced-large threshold
    # -> the pruned probe; both share one output schema. A full-probe
    # probe and the exact path must agree on this corpus.
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id < 4")
    idx = str(tmp_path / "annidx")
    S.ivfpq_build_index(emb, idx, n_cells=8, m=8, k_codes=16, pq_iters=1)

    def rows(df):
        return sorted((r.q_id, r.neighbor_id, r.l2_dist, r.rnk) for r in df.collect())

    exact = S.ann_topk(spark, idx, queries, k=5)  # tiny corpus -> exact
    assert exact.columns == ["q_id", "neighbor_id", "l2_dist", "rnk"]

    monkeypatch.setattr(S, "AUTO_INDEX_MIN_ROWS", 0)
    n = emb.count()
    probed = S.ann_topk(
        spark, idx, queries, k=5, n_probe=8, shortlist_factor=(n // 5) + 1
    )
    assert probed.columns == ["q_id", "neighbor_id", "l2_dist", "rnk"]
    # full probe + corpus-wide shortlist == exact ranking
    assert rows(probed) == rows(exact)


def test_decontamination_shuffle_fallback_past_broadcast_bound(spark):
    # Probe sets past the broadcast threshold (multi-benchmark unions,
    # held-out corpora) must fall back to a plain equi-join on the
    # gram key — identical results, no broadcast of the probe grams.
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, "/root/testdata/sf0.001", "documents")
    probe = docs.where("doc_id % 7 = 0").select("doc_id", "text")

    def rows(df):
        return sorted((r.doc_id, r.n_shared_grams) for r in df.collect())

    small = rows(dedup.decontamination_overlap(docs, probe))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced_df = dedup.decontamination_overlap(docs, probe)
        forced = rows(forced_df)
        plan = forced_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert small == forced and small  # same verdicts either regime


def test_train_holdout_split_is_group_consistent(spark):
    # Contamination-safe split: every row of a source lands on ONE
    # side (hashing the group key, not the row id), assignment is
    # deterministic across calls, and the salt reshuffles it.
    from data_pipeline_with_spark_spark.llm import packing
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, "/root/testdata/sf0.001", "documents")
    s1 = packing.split_train_holdout(docs, holdout_frac=0.25)
    sides = {
        r.source: r.n
        for r in s1.groupBy("source").agg(
            F.countDistinct("split").alias("n")
        ).collect()
    }
    assert set(sides.values()) == {1}  # no source straddles the split
    assert {r.split for r in s1.select("split").distinct().collect()} == {
        "train", "holdout",
    }
    a = {(r.doc_id, r.split) for r in s1.select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in packing.split_train_holdout(docs, holdout_frac=0.25)
        .select("doc_id", "split")
        .collect()
    }
    assert a == b  # deterministic
    c = {
        (r.doc_id, r.split)
        for r in packing.split_train_holdout(docs, holdout_frac=0.25, salt="v2")
        .select("doc_id", "split")
        .collect()
    }
    assert a != c  # the salt genuinely reshuffles


def test_lsh_duplicate_ids_never_self_pair(spark):
    # Duplicate ids in the input land twice in a bucket list; the
    # bucket-group pair generation must keep the old self-join's
    # strict-inequality contract (no (x, x) pairs; r8 review finding).
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta epsilon"),  # duplicate id + text
        (2, "alpha beta gamma delta epsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs(
            docs, num_hashes=16, bands=8
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_double_lit_specials_match_f_lit(spark):
    # _double_lit must round-trip non-finite values and -0.0 exactly
    # like F.lit (repr(nan) would parse as a column reference; the
    # decimal route drops -0.0's sign bit; r8 review finding).
    import math as m

    from pyspark.sql import functions as SF

    from data_pipeline_with_spark_spark.llm.similarity import _double_lit

    vals = [1.5, float("nan"), float("inf"), float("-inf"), -0.0, 0.1]
    row = (
        spark.range(1)
        .select(_double_lit(vals).alias("a"), SF.lit(vals).alias("b"))
        .collect()[0]
    )
    for x, y in zip(row.a, row.b):
        if m.isnan(x) or m.isnan(y):
            assert m.isnan(x) and m.isnan(y)
        else:
            assert x == y and m.copysign(1.0, x) == m.copysign(1.0, y)
    # nested form too
    row2 = spark.range(1).select(_double_lit([vals, vals]).alias("a")).collect()[0]
    assert len(row2.a) == 2 and m.isnan(row2.a[0][1])


def test_bm25_single_pass_plan(spark):
    # The per-doc aggregate is the ONE corpus-derived subtree; the
    # stats branch reads the identical subtree, so the executed plan
    # tokenizes once (exchange reuse on an exact plan match — not the
    # fragile differing-aggregations shape; r8 review finding).
    import re

    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, "/root/testdata/sf0.001", "documents")
    df = text.bm25_topk(docs, ["spark", "query"], k=5)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    # util.exploded() spells the tokenize explode as posexplode_outer
    # (the InferFiltersFromGenerate guard); count both spellings so the
    # pin tracks the tokenize generate, whatever its flavor
    gens = len(re.findall(r"Generate (?:pos)?explode(?:_outer)?\(filter\(split\(", final))
    assert gens == 1, f"tokenize explode ran {gens}x (want 1):\n{final[:1500]}"


def test_lsh_max_bucket_drops_boilerplate_pairs(spark):
    # A boilerplate band bucket (every doc shares a band) is dropped
    # entirely under max_bucket, while genuinely-near pairs survive via
    # their other, selective bands. (The small default here behaves
    # exactly all-pairs: DEFAULT_MAX_BUCKET is far above these bucket
    # sizes; max_bucket=None is the explicit exact-contract opt-in.)
    boiler = "all rights reserved copyright notice applies to this page"
    rows = [(i, boiler + f" unique tail {i} {i*7} {i*13}") for i in range(1, 9)]
    # a planted near-dup pair agreeing on far more than the boilerplate
    rows += [
        (100, "the quick brown fox jumps over the lazy dog again today"),
        (101, "the quick brown fox jumps over the lazy dog again now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs(
            docs, num_hashes=16, bands=8
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs(
            docs, num_hashes=16, bands=8, max_bucket=4
        ).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    assert capped <= uncapped  # the cap only ever drops pairs


def test_bm25_ranks_relevant_doc_first(spark):
    # BM25 semantics on a planted corpus: the doc dense in the query
    # terms outranks one mentioning a single term in passing; rare
    # terms (high idf) outweigh common ones; docs with no query term
    # never appear; output is bounded by k and ordered desc.
    rows = [
        (1, "spark query engine spark query optimizer spark"),
        (2, "a long essay about gardening that says spark exactly once "
            + "plus lots of other words " * 5),
        (3, "completely unrelated text about cooking pasta"),
        (4, "query planning notes"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r.doc_id, r.bm25) for r in text.bm25_topk(df, ["spark", "query"], k=3).collect()]
    ids = [d for d, _ in got]
    assert ids[0] == 1  # term-dense doc wins
    assert 3 not in ids  # no query term -> never retrieved
    assert len(got) <= 3
    scores = [s for _, s in got]
    assert scores == sorted(scores, reverse=True)
    # doc 2 mentions 'spark' once in a LONG doc; doc 4 matches 'query'
    # in a 3-token doc — length normalization must rank 4 above 2
    assert ids.index(4) < ids.index(2)


def test_topk_recall_summary_flags_flip(spark):
    """The bound-style ANN oracle face (r14 verdict task 1) must be
    FALSIFIABLE: each flag flips FALSE on the violation it guards."""
    exact = spark.createDataFrame(
        [(q, n, 1.0, r + 1) for q in (0, 1) for r, n in enumerate((10, 11, 12))],
        ["q_id", "neighbor_id", "cos_sim", "rnk"],
    )
    good = {r.query_id: r for r in similarity.topk_recall_summary(
        exact, exact, k=3, floor=0.9).collect()}
    assert set(good) == {0, 1}
    assert all(r.n_returned == 3 and r.distinct_ok and r.no_self and r.recall_ok
               for r in good.values())

    # zero-overlap approx -> recall_ok False everywhere (floor unmet)
    miss = spark.createDataFrame(
        [(q, n, 1.0, r + 1) for q in (0, 1) for r, n in enumerate((20, 21, 22))],
        ["q_id", "neighbor_id", "cos_sim", "rnk"],
    )
    rows = similarity.topk_recall_summary(miss, exact, k=3, floor=0.9).collect()
    assert rows and all(not r.recall_ok for r in rows)

    # self-match and duplicate neighbor flip their structural flags
    bad = spark.createDataFrame(
        [(0, 0, 1.0, 1), (0, 10, 0.9, 2), (1, 11, 1.0, 1), (1, 11, 0.9, 2)],
        ["q_id", "neighbor_id", "cos_sim", "rnk"],
    )
    by_q = {r.query_id: r for r in similarity.topk_recall_summary(
        bad, exact, k=3, floor=0.0).collect()}
    assert not by_q[0].no_self and by_q[1].no_self
    assert not by_q[1].distinct_ok and by_q[0].distinct_ok

    # a query returning fewer than k rows can't launder recall: 1 hit
    # out of k=3 reads 1/3 even though it returned a single row
    short = spark.createDataFrame(
        [(0, 10, 1.0, 1)], ["q_id", "neighbor_id", "cos_sim", "rnk"]
    )
    by_q = {r.query_id: r for r in similarity.topk_recall_summary(
        short, exact, k=3, floor=0.5).collect()}
    assert by_q[0].n_returned == 1 and not by_q[0].recall_ok

    # a query the approximate side returns nothing for still counts: it
    # reads 0 returned and recall 0, so the mean here is (1 + 0) / 2
    half = exact.where("q_id = 0")
    by_q = {r.query_id: r for r in similarity.topk_recall_summary(
        half, exact, k=3, floor=0.9).collect()}
    assert set(by_q) == {0, 1} and by_q[1].n_returned == 0
    assert not any(r.recall_ok for r in by_q.values())
    assert all(r.recall_ok for r in similarity.topk_recall_summary(
        half, exact, k=3, floor=0.5).collect())


def test_semantic_dedup_check_flags_flip(spark):
    """False drops and corpus-foreign keeps must flip the invariant
    flags the sim_semantic_dedup_auto oracle asserts TRUE."""
    e = [1.0, 0.0]
    o = [0.0, 1.0]
    emb = spark.createDataFrame(
        [(0, e, "a"), (1, e, "a"), (2, o, "b"), (3, o, "b")],
        ["vec_id", "embedding", "label"],
    )
    kept_ok = emb.where(F.col("vec_id").isin(0, 2))
    rows = {r.label: r for r in similarity.semantic_dedup_check(
        emb, kept_ok, 0.95).collect()}
    assert rows["a"].n_total == 2 and rows["b"].n_total == 2
    assert all(r.kept_le_total and r.sampled_drops_witnessed and r.kept_subset_ok
               for r in rows.values())

    # dropping vec 3's keeper TOO (vec 2: no earlier similar vector
    # exists for it) is a false drop -> witness flag flips
    rows = similarity.semantic_dedup_check(
        emb, emb.where(F.col("vec_id").isin(0)), 0.95).collect()
    assert rows and all(not r.sampled_drops_witnessed for r in rows)

    # a kept id that does not exist in the corpus flips subset_ok
    ghost = spark.createDataFrame([(99, e, "a")], ["vec_id", "embedding", "label"])
    rows = similarity.semantic_dedup_check(
        emb, kept_ok.unionByName(ghost), 0.95).collect()
    assert rows and all(not r.kept_subset_ok for r in rows)


def test_ivf_recall_vs_brute_force(spark):
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.where("vec_id < 10")
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)
    e = {(r.q_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.q_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # multi-probe IVF keeps most true neighbors


def test_multimodal_resize_and_frames(spark):
    df = spark.createDataFrame([(1, "x" * 100), (2, "y" * 300)], ["doc_id", "text"])
    assets = multimodal.attach_binary_payload(df)
    resized = {r.doc_id: r for r in multimodal.resize_images(assets, 8, 8).collect()}
    assert all(len(r.payload) == 64 for r in resized.values())
    assert resized[1].width == 8

    frames = multimodal.sample_frames(assets, every_nth=2, frame_bytes=64).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc1: 100 bytes -> 2 frames total, sampled idx 0
    assert [f.frame_idx for f in by_doc[1]] == [0]
    assert by_doc[1][0].n_frames_total == 2
    # doc2: 300 bytes -> 5 frames total, sampled idx 0,2,4
    assert sorted(f.frame_idx for f in by_doc[2]) == [0, 2, 4]
    with pytest.raises(NotImplementedError):
        multimodal.resize_image_stub(b"x", 2, 2, fake=False)


def test_kmeans_lloyd_matches_numpy(spark):
    import numpy as np

    from data_pipeline_with_spark_spark.llm.similarity import kmeans_lloyd
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    k, iters = 8, 5
    assigned, cents = kmeans_lloyd(emb, k=k, iters=iters)
    got = {r.vec_id: r.cluster for r in assigned.collect()}

    rows = sorted(
        (r.vec_id, np.array(r.embedding, dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = [i for i, _ in rows]
    X = np.stack([v for _, v in rows])
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            if (a == j).any():
                C[j] = X[a == j].mean(axis=0)
    expected = dict(zip(ids, a.tolist()))
    assert got == expected
    assert np.allclose(np.array(cents), C, atol=1e-8)


def test_decontamination_overlap_semantics(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # shares the probe 5-gram
            (2, "totally different words here now friend"),
            (3, "alpha beta gamma delta epsilon other"),  # shares it too
        ],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.n_shared_grams)
        for r in dedup.decontamination_overlap(corpus, probe, k_shingle=5).collect()
    }
    assert got == {(1, 1), (3, 1)}  # doc 2 clean, docs 1/3 share exactly one 5-gram


def test_repetition_stats_flags_repeats(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one bigram dominates
            (2, "one two three four five six"),    # all bigrams unique
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.with_repetition_stats(df).collect()}
    assert rows[1].top_bigram_frac == 1.0          # 5 identical "spam spam" bigrams
    assert rows[2].top_bigram_n == 1
    assert rows[2].top_bigram_frac == pytest.approx(0.2)


def test_source_mixture_weights_temperature(spark):
    from data_pipeline_with_spark_spark.llm import packing

    df = spark.createDataFrame(
        [(i, "tok " * (200 if i % 10 else 20), "big" if i % 10 else "small")
         for i in range(20)],
        ["doc_id", "text", "source"],
    )
    nat = {r.source: r for r in packing.source_mixture_weights(df, alpha=1.0).collect()}
    flat = {r.source: r for r in packing.source_mixture_weights(df, alpha=0.01).collect()}
    # α=1 → natural token proportions; α→0 → near-uniform
    assert abs(sum(r.weight for r in nat.values()) - 1.0) < 1e-5
    assert nat["big"].weight == pytest.approx(
        nat["big"].n_tokens / (nat["big"].n_tokens + nat["small"].n_tokens), abs=1e-5
    )
    assert abs(flat["big"].weight - 0.5) < 0.02
    # epochs: small source must repeat more than large to fill its share
    assert flat["small"].epochs > flat["big"].epochs


def test_bpe_train_apply_matches_python_replay(spark, sf_dir):
    # Full independent replay: histogram in python over collected
    # tokens, same merge learning, same greedy encode — the Spark
    # train+apply must agree token-for-token on real fixture data.
    from data_pipeline_with_spark_spark.llm import bpe
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, n_merges=25)
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
        for r in bpe.apply_bpe(docs, merges).select(
            "doc_id", "bpe_tokens", "n_bpe_tokens"
        ).collect()
    }

    rows = docs.select("doc_id", "text").collect()
    hist: dict[str, int] = {}
    for r in rows:
        for w in bpe.split_words(r.text):  # same Java-\s+ boundary as train
            hist[w] = hist.get(w, 0) + 1
    replay_merges = bpe.train_merges_from_histogram(
        sorted(hist.items(), key=lambda kv: (-kv[1], kv[0])), 25
    )
    assert merges == replay_merges
    ranks = {p: i for i, p in enumerate(replay_merges)}
    for r in rows:
        toks: list[str] = []
        for w in bpe.split_words(r.text):
            toks.extend(bpe.encode_word(w, ranks))
        assert got[r.doc_id] == (toks, len(toks)), r.doc_id
    # merges actually compress: fewer pieces than characters
    any_doc = rows[0]
    assert got[any_doc.doc_id][1] < len(any_doc.text)


def test_bpe_unicode_whitespace_train_apply_parity(spark):
    # r5 ADVICE: NBSP / U+2028 are NOT word boundaries for Java \s+
    # (training side); the apply UDF must agree, not str.split().
    from data_pipeline_with_spark_spark.llm import bpe

    text = "low\u00a0lower low lowest\u2028low"
    df = spark.createDataFrame([(1, text)], "doc_id INT, text STRING")
    hist = {r.word: r["count"] for r in bpe.word_histogram(df).collect()}
    # NBSP-joined "low\u00a0lower" is ONE training word on both sides
    assert "low\u00a0lower" in hist and hist["low"] == 1
    assert sorted(hist) == sorted(
        {w: 0 for w in bpe.split_words(text)}
    ), "train/apply word boundaries diverge"
    merges = bpe.bpe_train(df, n_merges=5)
    got = bpe.apply_bpe(df, merges).collect()[0]
    ranks = {p: i for i, p in enumerate(merges)}
    want = [t for w in bpe.split_words(text) for t in bpe.encode_word(w, ranks)]
    assert list(got.bpe_tokens) == want


def test_bpe_apply_null_text_yields_empty(spark):
    from data_pipeline_with_spark_spark.llm import bpe

    df = spark.createDataFrame([(1, "low lower"), (2, None)], "doc_id INT, text STRING")
    merges = [("l", "o"), ("lo", "w")]
    rows = {r.doc_id: r for r in bpe.apply_bpe(df, merges).collect()}
    assert rows[2].bpe_tokens == [] and rows[2].n_bpe_tokens == 0
    assert rows[1].n_bpe_tokens > 0


def test_gopher_oracle_zero_token_doc_not_null_poisoned():
    # DuckDB list_sum([]) is NULL; the oracle must coalesce it so a
    # zero-token document yields booleans, not NULLs (which would
    # hash-mismatch the Spark side's 0-seeded aggregate).
    import duckdb

    from data_pipeline_with_spark_spark.plans.catalog_llm import _GOPHER_RULES_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, '   ', 'en', 's1', 3), (2, 'the of word', 'en', 's1', 11)"
        ") AS t(doc_id, text, lang, source, n_chars)"
    )
    rows = {r[0]: r for r in con.execute(_GOPHER_RULES_SQL).fetchall()}
    assert all(v is not None for v in rows[1])  # no NULL-poisoned rule
    assert rows[1][-1] is False  # zero-token doc fails the battery


def test_epoch_expand_hits_token_target(spark):
    from data_pipeline_with_spark_spark.llm import packing

    sizes = {0: 30, 1: 47, 2: 64, 3: 81}
    df = spark.createDataFrame(
        [(i, "tok " * sizes[i % 4], "s" + str(i % 4)) for i in range(80)],
        ["doc_id", "text", "source"],
    )
    target = 100_000
    out = packing.epoch_expand(df, alpha=0.7, target_tokens=target)
    rows = out.collect()
    # within a source, repeats are floor(epochs) or floor(epochs)+1, and
    # the fractional extra fires both ways in at least one source
    by_source: dict[str, set] = {}
    for r in rows:
        by_source.setdefault(r.source, set()).add(r.n_repeats)
    assert all(len(v) <= 2 and max(v) - min(v) <= 1 for v in by_source.values())
    assert any(len(v) == 2 for v in by_source.values())
    # materialized token count lands on the target (±5%: the hash
    # threshold is exact in expectation, 80 docs give a small sample)
    total_tokens = sum(sizes[r.doc_id % 4] for r in rows)
    assert abs(total_tokens - target) / target < 0.05
    # deterministic: same input -> identical expansion
    again = {(r.doc_id, r.epoch_idx) for r in packing.epoch_expand(
        df, alpha=0.7, target_tokens=target).collect()}
    assert {(r.doc_id, r.epoch_idx) for r in rows} == again


def test_paragraph_dedup_sep_mode(spark):
    # Blank-line paragraph mode: keep-first corpus-wide, original order
    # preserved on rebuild, fully-subsumed docs vanish.
    from data_pipeline_with_spark_spark.llm import dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared para\n\ngamma"),
            (2, "shared para\n\ndelta only"),      # loses its first para to doc 1
            (3, "shared para"),                    # fully subsumed -> dropped
            (4, "alpha beta\n\nepsilon"),          # first para lost to doc 1
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in dedup.paragraph_dedup(df).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1].text_dedup == "alpha beta\n\nshared para\n\ngamma"
    assert (rows[1].n_paras, rows[1].n_kept) == (3, 3)
    assert rows[2].text_dedup == "delta only"
    assert (rows[2].n_paras, rows[2].n_kept) == (2, 1)
    assert rows[4].text_dedup == "epsilon"


def test_gopher_rules_each_rule_fires(spark):
    # One row per rule designed to fail exactly that rule (the fixture
    # corpus never trips the alpha/symbol rules, so they're pinned here).
    good = "the quick brown fox jumps over a lazy dog and then it " * 3
    df = spark.createDataFrame(
        [
            (1, good),                                  # passes everything
            (2, "the of short text"),                   # word count < 30
            (3, "the of " + "x " * 40),                 # mean word len < 3
            (4, "the of " + "1234 5678 9012 3456 " * 10),  # <80% alphabetic
            (5, "word " * 40),                          # <2 distinct stopwords
            (6, "the of word " + "$ % # ! " * 10),      # >10% symbol tokens
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.with_gopher_rules(df, min_words=10).collect()}
    assert rows[1].gopher_pass
    assert not rows[2].rule_word_count and not rows[2].gopher_pass
    assert not rows[3].rule_mean_word_len and rows[3].rule_word_count
    assert not rows[4].rule_alpha_ratio and rows[4].rule_mean_word_len
    assert not rows[5].rule_stopwords and rows[5].rule_alpha_ratio
    assert not rows[6].rule_symbol_ratio and rows[6].rule_stopwords


def test_pii_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe@example.com or call +1 (555) 123-4567 ok"),
            (2, "server 192.168.0.1 holds ssn 123-45-6789"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text.redact_pii(df).collect()}
    assert "[EMAIL]" in rows[1].text_redacted and "[PHONE]" in rows[1].text_redacted
    assert rows[1].n_email == 1 and rows[1].n_phone == 1
    # specific patterns win over the permissive phone regex
    assert "[IPV4]" in rows[2].text_redacted and "[SSN]" in rows[2].text_redacted
    assert rows[2].n_ipv4 == 1 and rows[2].n_ssn == 1
    assert rows[3].text_redacted == rows[3].text and rows[3].n_email == 0


def test_connected_components_transitive(spark):
    # a-b, b-c chain must merge into one component even though (a, c)
    # was never a pair; (x, y) stays its own cluster.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain_stress(spark):
    # A 24-node path graph needs 23 label-propagation rounds to
    # converge (min label moves one hop per round) — exercises the
    # periodic localCheckpoint that bounds lineage growth (without it,
    # 20+ iterations of 2-joins-per-round lineage make planning time
    # balloon).
    n = 24
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    labels = dedup.connected_components(pairs, max_iter=50)
    got = {(r.node, r.component) for r in labels.collect()}
    assert got == {(i, 1) for i in range(1, n + 1)}


def test_connected_components_path_graph_log_rounds(spark):
    # Adversarial chain robustness (r5 verdict lead #6): min-label
    # propagation alone needs O(diameter) rounds — ~10k for this graph.
    # With the pointer-doubling shortcut, a 10,000-node PATH graph must
    # fully converge within 15 iterations (O(log n)); max_iter=15 makes
    # the bound the test: an unconverged run leaves wrong labels.
    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    labels = dedup.connected_components(pairs, max_iter=15)
    comps = {r.component for r in labels.collect()}
    assert comps == {0}
    assert labels.count() == n


def test_exploded_semantics_and_collision_guard(spark):
    from data_pipeline_with_spark_spark.util import exploded

    df = spark.createDataFrame(
        [(1, [10, None, 30]), (2, []), (3, None)],
        "id int, arr array<int>",
    )
    # EXACT explode() semantics: null elements kept, null/empty arrays
    # dropped — and no stray ordinal column unless pos= asked for it.
    out = exploded(df, ["id"], F.col("arr"), "v")
    assert out.columns == ["id", "v"]
    assert [(r.id, r.v) for r in out.orderBy("id", "v").collect()] == [
        (1, None), (1, 10), (1, 30),
    ]
    outp = exploded(df, ["id"], F.col("arr"), "v", pos="i")
    assert [(r.id, r.i, r.v) for r in outp.orderBy("id", "i").collect()] == [
        (1, 0, 10), (1, 1, None), (1, 2, 30),
    ]
    # Collision guard (r12 advice, narrowed r13 advice): raising is
    # reserved for the actual hazard — the colliding name being among
    # the PROJECTED cols (directly or via "*"), where the output would
    # carry a duplicate name / drop(p) would eat the caller's column.
    with pytest.raises(ValueError, match="ordinal"):
        exploded(df.withColumn("__exploded_pos", F.lit(0)),
                 ["id", "__exploded_pos"], F.col("arr"), "v")
    with pytest.raises(ValueError, match="alias"):
        exploded(df.withColumn("v", F.lit(0)), ["*"], F.col("arr"), "v")
    # ...but alias present-yet-unprojected is the well-defined
    # replace-a-column spelling and must NOT raise (r13 advice):
    replaced = exploded(df.withColumn("v", F.lit(99)), ["id"], F.col("arr"), "v")
    assert replaced.columns == ["id", "v"]
    assert [(r.id, r.v) for r in replaced.orderBy("id", "v").collect()] == [
        (1, None), (1, 10), (1, 30),
    ]
    # same for a pre-existing ordinal-named column that isn't projected
    shadow_p = exploded(df.withColumn("__exploded_pos", F.lit(0)),
                        ["id"], F.col("arr"), "v")
    assert shadow_p.columns == ["id", "v"]


def test_connected_components_no_cache_leak(spark):
    # Regression (r12 advice): the loop used to persist the
    # __old-bearing frame but carry forward a dropped projection, so
    # next round's unpersist() didn't sameResult the cached plan and
    # every persist-round's labels leaked in the CacheManager. Pin:
    # after unpersisting the RETURNED handle, the DataFrame cache is
    # empty — with the leak, each intermediate persist round (a 12-node
    # path converges in ~5 rounds, _CHECKPOINT_EVERY=3 → ≥2 persist
    # rounds) leaves an InMemoryRelation behind and isEmpty() is false.
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["id_a", "id_b"]
    )
    labels = dedup.connected_components(pairs, max_iter=50)
    assert labels.count() == 12
    labels.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_connected_components_checkpoint_cadence_validation(spark):
    # r13 advice: checkpoint_every=0 used to ZeroDivisionError at
    # `it % checkpoint_every`; the docstring's 'never' cadence had no
    # direct spelling. Now: None/0 = never checkpoint (persist-only
    # rounds, same labels); anything else must be a positive int.
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    for cadence in (None, 0):
        lab = dedup.connected_components(pairs, checkpoint_every=cadence)
        assert {r.component for r in lab.collect()} == {1}
        lab.unpersist()
    with pytest.raises(ValueError, match="checkpoint_every"):
        dedup.connected_components(pairs, checkpoint_every=-1)
    with pytest.raises(ValueError, match="checkpoint_every"):
        dedup.connected_components(pairs, checkpoint_every=2.5)
    # r14 advice: bools pass isinstance(int) — False would silently
    # mean 'never' and True 'every round'; both must be rejected
    with pytest.raises(ValueError, match="checkpoint_every"):
        dedup.connected_components(pairs, checkpoint_every=True)
    with pytest.raises(ValueError, match="checkpoint_every"):
        dedup.connected_components(pairs, checkpoint_every=False)


def test_phash_image_near_dups(spark):
    # Identical payloads share a pHash (hamming 0); an unrelated payload
    # must not pair with them within the hamming budget.
    base = "the quick brown fox jumps over the lazy dog " * 30
    rows = [
        (1, base),
        (2, base),                            # exact image dup
        (3, "completely different pixel soup " * 40),
    ]
    assets = multimodal.attach_binary_payload(
        spark.createDataFrame(rows, ["doc_id", "text"])
    )
    hashed = multimodal.perceptual_hash(assets)
    hs = {r.doc_id: r.phash for r in hashed.collect()}
    assert hs[1] == hs[2] != hs[3]
    pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.phash_near_dup_pairs(hashed, max_hamming=4).collect()
    }
    assert (1, 2, 0) in pairs
    assert not any(3 in (p[0], p[1]) for p in pairs)


def test_pack_spans_invariants(spark, sf_dir):
    from data_pipeline_with_spark_spark.llm import packing
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    packed = packing.with_pack_spans(docs, seq_len=512).cache()
    rows = packed.select(
        "source", "doc_id", "n_tokens_est", "first_chunk", "last_chunk", "n_chunks"
    ).collect()
    assert rows and all(r.first_chunk <= r.last_chunk for r in rows)
    # spans tile each shard contiguously: replaying the cumsum per
    # shard reproduces exactly the reported chunk spans
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.source, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in shard_rows:
            assert r.first_chunk == cum // 512
            cum += r.n_tokens_est
            if r.n_tokens_est > 0:
                assert r.last_chunk == (cum - 1) // 512
                assert r.n_chunks == r.last_chunk - r.first_chunk + 1
            else:
                assert r.n_chunks == 0
    # efficiency report agrees with the spans
    eff = {
        r.source: r
        for r in packing.pack_efficiency(docs, seq_len=512).collect()
    }
    for src, shard_rows in by_shard.items():
        total = sum(r.n_tokens_est for r in shard_rows)
        assert eff[src].total_tokens == total
        assert eff[src].n_chunks == -(-total // 512)
        assert eff[src].pad_tokens == eff[src].n_chunks * 512 - total
    packed.unpersist()


def test_source_cap_binds_and_is_deterministic(spark, sf_dir):
    from data_pipeline_with_spark_spark.llm import packing
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    capped = packing.source_cap(docs, k=5)
    per_src = capped.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 5 for r in per_src)
    a = {r.doc_id for r in capped.select("doc_id").collect()}
    b = {r.doc_id for r in packing.source_cap(docs, k=5).select("doc_id").collect()}
    assert a == b  # no rand(): bit-identical across runs


def test_overlapping_chunks_cover_and_overlap(spark, sf_dir):
    from data_pipeline_with_spark_spark.llm import packing
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents").limit(50)
    chunks = packing.with_overlapping_chunks(
        docs, chunk_size=32, stride=16
    ).collect()
    toks = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in docs.collect()
    }
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda c: c.chunk_idx)
        full = toks[doc_id]
        assert cs[0].chunk_idx == 0
        rebuilt = set()
        for c in cs:
            start = c.chunk_idx * 16
            want = full[start : start + 32]
            assert c.chunk_text.split() == want
            assert c.n_chunk_tokens == len(want)
            rebuilt.update(range(start, start + len(want)))
        assert rebuilt == set(range(len(full)))  # every token covered
        if len(full) > 32:
            assert len(cs) > 1  # overlap path actually exercised


def test_semantic_dedup_drops_planted_near_identical(spark):
    # row order matters: kmeans_lloyd seeds from the first k rows, so
    # lead with the two far-apart anchors — their near-twins then land
    # in the anchors' cells, which is the regime SemDeDup dedups.
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-identical to 1 -> dropped (min-id keeper)
        (4, [0.0, 0.98, 0.17]),    # cos ~0.972 vs 3 -> dropped at 0.95
        (5, [-1.0, 0.0, 0.0]),     # opposite direction survives
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = sorted(
        r.vec_id
        for r in similarity.semantic_dedup(
            emb, k=2, iters=3, threshold=0.95
        ).collect()
    )
    assert kept == [1, 3, 5]


def test_ivf_full_probe_equals_brute_force(spark):
    # Degenerate IVF: probing every cell (n_probe = n_cells) must
    # reproduce the exact brute-force top-k — same neighbors, same
    # scores, same ranks. This is the deterministic anchor for the
    # approximate path: correctness of partitioning + scoring is
    # checked exactly; recall-vs-probe behavior is checked separately.
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id < 8")
    exact = similarity.brute_force_topk(emb, queries, k=5)
    full = similarity.ivf_topk(emb, queries, k=5, n_cells=4, n_probe=4)
    e = {(r.q_id, r.neighbor_id, r.cos_sim, r.rnk) for r in exact.collect()}
    f = {(r.q_id, r.neighbor_id, r.cos_sim, r.rnk) for r in full.collect()}
    assert e == f


def test_semantic_dedup_matches_numpy_replay(spark):
    # Independent replay of the full SemDeDup pipeline in numpy:
    # deterministic k-means (seeds = k lowest-id vectors, same iters),
    # then within-cluster pairwise cosine with the min-id keeper. The
    # survivor sets must agree exactly on real fixture data.
    import numpy as np

    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    # 0.43 sits in a gap of the fixture's within-cluster cosine
    # distribution (nearest values 0.4292 / 0.4306), so float-precision
    # differences between engines cannot flip a threshold comparison,
    # and several pairs exceed it so the drop path actually fires.
    k, iters, threshold = 8, 3, 0.43
    kept_spark = sorted(
        r.vec_id
        for r in similarity.semantic_dedup(
            emb, k=k, iters=iters, threshold=threshold
        ).collect()
    )

    rows = sorted(
        (r.vec_id, np.array(r.embedding, dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([i for i, _ in rows])
    X = np.stack([v for _, v in rows])
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            if (a == j).any():
                C[j] = X[a == j].mean(axis=0)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    dropped: set[int] = set()
    for j in range(k):
        members = np.where(a == j)[0]
        for bi in members:
            for ai in members:
                if ids[ai] < ids[bi] and float(Xn[ai] @ Xn[bi]) >= threshold:
                    dropped.add(int(ids[bi]))
                    break
    kept_np = sorted(int(i) for i in ids if int(i) not in dropped)
    assert len(kept_np) < len(ids)  # threshold actually drops something
    assert kept_spark == kept_np


def test_ffd_pack_invariants(spark, sf_dir):
    from data_pipeline_with_spark_spark.llm import packing
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    seq_len = 256
    packed = packing.ffd_pack(docs, seq_len=seq_len).select(
        "doc_id", "source", "n_tokens_est", "bin_idx", "oversize"
    )
    rows = packed.collect()
    assert len(rows) == docs.count()  # every document assigned exactly once

    fills: dict[tuple, int] = {}
    oversize_bins: dict[tuple, list] = {}
    for r in rows:
        key = (r.source, r.bin_idx)
        fills[key] = fills.get(key, 0) + r.n_tokens_est
        if r.oversize:
            oversize_bins.setdefault(key, []).append(r.doc_id)
    for key, fill in fills.items():
        if key in oversize_bins:
            # an oversize document owns its bin alone
            assert len(oversize_bins[key]) == 1
        else:
            assert fill <= seq_len, (key, fill)

    # FFD quality: within the 11/9·OPT + 1 bound of the lower bound
    # per shard (OPT >= ceil(total/cap) when no oversize docs).
    import math

    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r)
    assert len(per_source) > 1
    for source, rs in per_source.items():
        n_bins = len({r.bin_idx for r in rs})
        n_over = sum(1 for r in rs if r.oversize)
        regular_tokens = sum(r.n_tokens_est for r in rs if not r.oversize)
        lower = math.ceil(regular_tokens / seq_len) + n_over
        assert n_bins <= math.ceil(lower * 11 / 9) + 1, (source, n_bins, lower)

    # deterministic: a second run produces the identical assignment
    again = {
        (r.doc_id): r.bin_idx
        for r in packing.ffd_pack(docs, seq_len=seq_len).collect()
    }
    assert again == {r.doc_id: r.bin_idx for r in rows}


def test_ffd_pack_matches_python_replay(spark, sf_dir):
    # Independent pure-Python replay of the FFD algorithm (same pattern
    # as the SemDeDup numpy replay): sort by (tokens desc, id asc) per
    # shard, probe bins first-fit in creation order, oversize docs own
    # a bin alone. Bin assignments must match the applyInPandas output
    # exactly — not just the invariants.
    from data_pipeline_with_spark_spark.llm import packing
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    seq_len = 256
    rows = packing.ffd_pack(docs, seq_len=seq_len).select(
        "doc_id", "source", "n_tokens_est", "bin_idx", "oversize"
    ).collect()

    per_shard: dict[str, list] = {}
    for r in rows:
        per_shard.setdefault(r.source, []).append(r)

    for source, rs in per_shard.items():
        expected: dict[int, tuple[int, bool]] = {}
        remaining: list[int] = []
        order = sorted(rs, key=lambda r: (-r.n_tokens_est, r.doc_id))
        for r in order:
            tok = int(r.n_tokens_est)
            if tok > seq_len:
                expected[r.doc_id] = (len(remaining), True)
                remaining.append(-1)
                continue
            for b, cap in enumerate(remaining):
                if tok <= cap:
                    expected[r.doc_id] = (b, False)
                    remaining[b] = cap - tok
                    break
            else:
                expected[r.doc_id] = (len(remaining), False)
                remaining.append(seq_len - tok)
        got = {r.doc_id: (r.bin_idx, r.oversize) for r in rs}
        assert got == expected, source


def test_embedding_quantize_matches_numpy(spark):
    # Element-wise check of the full q_vec array (the registered query
    # digests it to a scalar for the driver's pandas canonicalizer, so
    # the raw array is asserted here instead). Also pins that the
    # digest column is md5 of the comma-joined ints — the exact string
    # the DuckDB oracle builds with array_to_string.
    import hashlib

    import numpy as np

    from data_pipeline_with_spark_spark.plans.catalog_llm import (
        _embedding_quantize,
        embedding_quantize_frame,
    )

    sf = "/root/testdata/sf0.001"
    full = {
        r.vec_id: r
        for r in embedding_quantize_frame(spark, sf).collect()
    }
    digests = {r.vec_id: r for r in _embedding_quantize(spark, sf).collect()}
    assert set(full) == set(digests) and len(full) > 0

    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    raw = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in read_testdata(spark, sf, "embeddings").collect()
    }
    for vec_id, r in full.items():
        v = raw[vec_id]
        lo, hi = float(v.min()), float(v.max())
        if hi == lo:
            expect = np.zeros(len(v), dtype=np.int64)
        else:
            expect = np.floor((v - lo) * 255.0 / (hi - lo) + 0.5).astype(np.int64)
        assert list(expect) == list(r.q_vec), vec_id
        assert r.q_min == round(lo, 6) and r.q_max == round(hi, 6)
        joined = ",".join(str(int(x)) for x in r.q_vec)
        assert digests[vec_id].q_digest == hashlib.md5(joined.encode()).hexdigest()
        assert min(r.q_vec) >= 0 and max(r.q_vec) <= 255


def test_mixture_weights_zero_token_source_guard(spark):
    # r5 ADVICE: a source whose documents are all empty must yield
    # weight=0.0 / epochs=0.0 (not NaN/NULL) and be cleanly dropped by
    # epoch_expand instead of poisoning n_repeats with NULL.
    import math

    from data_pipeline_with_spark_spark.llm import packing

    df = spark.createDataFrame(
        [(1, "a", "the quick brown fox jumps"), (2, "a", "over the lazy dog"),
         (3, "b", ""), (4, "b", "   ")],
        ["doc_id", "source", "text"],
    )
    w = {r.source: r for r in packing.source_mixture_weights(df, target_tokens=100).collect()}
    assert w["b"].n_tokens == 0
    assert w["b"].weight == 0.0 and w["b"].epochs == 0.0
    assert not math.isnan(w["a"].epochs) and w["a"].epochs > 0
    assert w["a"].weight == 1.0  # sole token-bearing source takes all mass
    out = packing.epoch_expand(df, target_tokens=100).collect()
    assert all(r.source == "a" for r in out) and len(out) > 0
    assert all(r.n_repeats is not None for r in out)


def test_broadcast_query_guard_fails_fast(spark):
    # brute-force / IVF broadcast the query side; past the documented
    # bound they must fail with the remedy, not OOM an executor.
    from data_pipeline_with_spark_spark.llm import similarity

    orig = similarity.MAX_BROADCAST_QUERIES
    similarity.MAX_BROADCAST_QUERIES = 10
    try:
        big_q = spark.range(50).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )
        with pytest.raises(ValueError, match="broadcasts the query set"):
            similarity.brute_force_topk(big_q, big_q, k=2)
        with pytest.raises(ValueError, match="broadcasts the query set"):
            similarity.ivf_topk(big_q, big_q, k=2, n_cells=2)
    finally:
        similarity.MAX_BROADCAST_QUERIES = orig


@pytest.mark.slow
def test_pq_train_encode_matches_numpy(spark):
    import numpy as np

    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    m, kc, iters = 8, 16, 2
    books = S.pq_train(emb, m=m, k_codes=kc, iters=iters)
    got_codes = {
        r.vec_id: list(r.pq_codes) for r in S.pq_encode(emb, books).collect()
    }

    rows = sorted(
        (r.vec_id, np.array(r.embedding, dtype=np.float64)) for r in emb.collect()
    )
    ids = [i for i, _ in rows]
    X = np.stack([v for _, v in rows])
    D = X.shape[1]
    d = D // m
    B = [[X[c, j * d : (j + 1) * d].copy() for c in range(kc)] for j in range(m)]
    for _ in range(iters):
        A = np.zeros((len(ids), m), dtype=int)
        for j in range(m):
            sub = X[:, j * d : (j + 1) * d]
            dist = ((sub[:, None, :] - np.stack(B[j])[None, :, :]) ** 2).sum(axis=2)
            A[:, j] = dist.argmin(axis=1)
        for j in range(m):
            sub = X[:, j * d : (j + 1) * d]
            for c in range(kc):
                if (A[:, j] == c).any():
                    B[j][c] = sub[A[:, j] == c].mean(axis=0)
    # final encode with the trained books
    enc = {}
    for i, vid in enumerate(ids):
        enc[vid] = [
            int(((X[i, j * d : (j + 1) * d] - np.stack(B[j])) ** 2).sum(axis=1).argmin())
            for j in range(m)
        ]
    assert got_codes == enc
    assert np.allclose(
        np.array(books), np.array([[list(c) for c in B[j]] for j in range(m)]), atol=1e-8
    )


@pytest.mark.slow
def test_pq_refined_recall_and_exactness(spark):
    import numpy as np

    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    books = S.pq_train(emb, m=8, k_codes=16, iters=2)
    codes = S.pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 5)

    X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    ids = sorted(X)
    n = len(ids)

    def exact(qid, k=5):
        return [
            i
            for _, i in sorted(
                (round(float(((X[i] - X[qid]) ** 2).sum()), 6), i)
                for i in ids
                if i != qid
            )[:k]
        ]

    # ADC alone: right shape (per-query k rows), JVM-only plan
    adc = S.pq_topk(codes, queries, books, k=5)
    plan = adc._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "ExistingRDD" not in plan
    by_q = {}
    for r in adc.collect():
        by_q.setdefault(r.q_id, []).append(r.neighbor_id)
    assert set(by_q) == {0, 1, 2, 3, 4} and all(len(v) == 5 for v in by_q.values())

    # refined: recall floor at shortlist_factor=10 (uniform-random
    # embeddings are PQ's worst case; real corpora cluster)
    ref = S.pq_topk_refined(emb, codes, queries, books, k=5, shortlist_factor=10)
    rec = []
    got = {}
    for r in ref.collect():
        got.setdefault(r.q_id, []).append(r.neighbor_id)
    for qid, nb in got.items():
        rec.append(len(set(exact(qid)) & set(nb)) / 5)
    assert sum(rec) / len(rec) >= 0.5

    # shortlist spanning the whole corpus -> EXACT brute-force L2 result
    full = S.pq_topk_refined(
        emb, codes, queries, books, k=5, shortlist_factor=(n // 5) + 1
    )
    got_full = {}
    for r in full.collect():
        got_full.setdefault(r.q_id, []).append(r.neighbor_id)
    assert got_full == {q: exact(q) for q in got_full}


def test_pq_shortlist_broadcast_falls_back_past_bound(spark, monkeypatch):
    # The re-rank shortlist is |Q| x k x factor rows — beyond the query
    # guard's reach. Past SHORTLIST_BROADCAST_MAX_ROWS the fetch join
    # must drop the broadcast hint (shuffle fallback) and still return
    # the identical result (r7 review finding).
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    books = S.pq_train(emb, m=4, k_codes=8, iters=1)
    codes = S.pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 3)

    def rows(df):
        return {tuple(r) for r in df.collect()}

    hinted = rows(S.pq_topk_refined(emb, codes, queries, books, k=3))
    monkeypatch.setattr(S, "SHORTLIST_BROADCAST_MAX_ROWS", 0)
    unhinted_df = S.pq_topk_refined(emb, codes, queries, books, k=3)
    assert rows(unhinted_df) == hinted and hinted


def test_session_cache_registry_levels_and_release(spark):
    # Operator caches are registered and releasable, and cache only
    # deterministic frames at MEMORY_ONLY (evictable, no disk pinning,
    # recompute-safe).
    from pyspark import StorageLevel

    from data_pipeline_with_spark_spark import util
    from data_pipeline_with_spark_spark.llm.dedup import simhash_near_dup_pairs

    util.release_session_caches()  # clean slate
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb cc dd"), (3, "zz yy xx ww")],
        "doc_id LONG, text STRING",
    )
    simhash_near_dup_pairs(docs).collect()
    fp_cached = util._SESSION_CACHES[-1]
    assert fp_cached.storageLevel == StorageLevel.MEMORY_ONLY

    n = util.release_session_caches()
    assert n >= 1 and not util._SESSION_CACHES
    assert fp_cached.storageLevel == StorageLevel.NONE


@pytest.mark.slow
def test_ivfpq_exactness_recall_and_plan_shape(spark, tmp_path):
    import numpy as np

    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivfpq")
    books = S.ivfpq_build_index(emb, idx, n_cells=8, m=8, k_codes=16, pq_iters=2)
    assert len(books) == 8 and len(books[0]) == 16
    queries = emb.where(F.col("vec_id") < 5)

    X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    ids = sorted(X)

    def exact(qid, k=5):
        return [
            i
            for _, i in sorted(
                (round(float(((X[i] - X[qid]) ** 2).sum()), 6), i)
                for i in ids
                if i != qid
            )[:k]
        ]

    # full probe + corpus-wide shortlist -> EXACT brute-force L2 result
    # (ADC approximation can only cost recall, never re-rank accuracy)
    full = S.ivfpq_probe_topk(
        spark, idx, queries, k=5, n_probe=8, shortlist_factor=(len(ids) // 5) + 1
    )
    got = {}
    for r in full.collect():
        got.setdefault(r.q_id, []).append(r.neighbor_id)
    assert got == {q: exact(q) for q in got} and len(got) == 5

    # recall floor at the default probe/shortlist budget (uniform-random
    # embeddings are the worst case; real corpora cluster)
    part = S.ivfpq_probe_topk(spark, idx, queries, k=5, n_probe=4, shortlist_factor=10)
    by_q = {}
    for r in part.collect():
        by_q.setdefault(r.q_id, []).append(r.neighbor_id)
    rec = [len(set(exact(q)) & set(nb)) / 5 for q, nb in by_q.items()]
    assert sum(rec) / len(rec) >= 0.5

    # plan shape: the ADC scan is partition-pruned to the probed cells
    # AND reads only (cell, id, pq_codes) — never the embedding column
    part.collect()
    plan = part._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    adc_scans = [ln for ln in scan_lines if "pq_codes" in ln]
    assert adc_scans, plan
    for ln in adc_scans:
        # pruned to the probed cells at plan time...
        assert "PartitionFilters: [cell" in ln and " IN " in ln, ln
        # ...and the heavy embedding column never reaches the ADC scan
        assert "embedding" not in ln.split("ReadSchema:")[1], ln
    # the re-rank fetch scan is ALSO partition-pruned
    fetch_scans = [
        ln
        for ln in scan_lines
        # index scans carry the cell partition column; the queries-source
        # scan of the raw embeddings table does not
        if "embedding" in ln.split("ReadSchema:")[1] and "cell#" in ln
    ]
    assert fetch_scans and all("PartitionFilters: [cell" in ln for ln in fetch_scans)


@pytest.mark.slow
def test_versioned_ivfpq_incremental_ingest_and_time_travel(spark, tmp_path):
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    half = emb.where("vec_id % 2 = 0")
    rest = emb.where("vec_id % 2 = 1")
    queries = emb.where(F.col("vec_id") < 5)

    idx = S.VersionedIvfPqIndex.build(
        half, str(tmp_path / "a"), n_cells=8, m=8, k_codes=16, pq_iters=2
    )
    v0 = idx.table._latest().version
    b1, b2 = rest.where("vec_id % 4 = 1"), rest.where("vec_id % 4 = 3")
    assert idx.ingest(b1, batch_id=0) is True
    assert idx.ingest(b1, batch_id=0) is False  # foreachBatch replay no-ops
    assert idx.ingest(b2, batch_id=1) is True
    assert idx.table.read().count() == emb.count()

    # batch-order independence: two increments == one append of the
    # union, under the SAME frozen quantizers (fresh build, same seed)
    idx2 = S.VersionedIvfPqIndex.build(
        half, str(tmp_path / "b"), n_cells=8, m=8, k_codes=16, pq_iters=2
    )
    idx2.append(rest)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(idx.probe(queries, k=5, n_probe=3))
    assert got == rows(idx2.probe(queries, k=5, n_probe=3)) and got

    # time travel: a probe as-of the pre-ingest version only ever sees
    # base-half neighbors — the reproducible-replay contract
    base_ids = {r.vec_id for r in half.collect()}
    old = idx.probe(queries, k=5, n_probe=8, version=v0).collect()
    assert old and all(r.neighbor_id in base_ids for r in old)

    # file skipping: the pruned probe plans strictly fewer files than
    # the full snapshot holds
    probed = idx.probe(queries, k=5, n_probe=2)
    probed.collect()
    kept, total = idx.table.plan_files(("cell", "in", [0, 1]))
    assert kept and len(kept) < total


def test_read_where_in_op_skips_files(spark, tmp_path):
    # 'in' data skipping: hive-path pruning keeps only the named
    # partitions' files, and results equal read().where(isin).
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).cast("int").alias("part")
    )
    t = VersionedTable(spark, str(tmp_path / "t")).create(df, partition_by=["part"])
    kept, total = t.plan_files(("part", "in", [1, 3]))
    assert kept and total > len(kept)
    got = {r.id for r in t.read_where(("part", "in", [1, 3])).collect()}
    want = {r.id for r in t.read().where(F.col("part").isin(1, 3)).collect()}
    assert got == want and got
    # empty IN-set: matches nothing, errors nowhere
    assert t.read_where(("part", "in", [])).count() == 0
    # min/max footer-stats route (non-partition column)
    kept2, _ = t.plan_files(("id", "in", [7]))
    assert kept2
    assert {r.id for r in t.read_where(("id", "in", [7, 999])).collect()} == {7}


@pytest.mark.slow
def test_versioned_ivfpq_compact_and_forget(spark, tmp_path):
    # OPTIMIZE ZORDER(cell) after many small ingests: results identical,
    # probes still skip files (footer min/max replaces hive paths).
    # forget(): deletion-vector removal excludes vectors immediately.
    import numpy as np

    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    idx = S.VersionedIvfPqIndex.build(
        emb.where("vec_id % 4 = 0"), str(tmp_path / "i"),
        n_cells=8, m=8, k_codes=16, pq_iters=1,
    )
    for b in range(1, 4):  # three small increments -> small-file buildup
        idx.ingest(emb.where(f"vec_id % 4 = {b}"), batch_id=b - 1)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    before = rows(idx.probe(queries, k=5, n_probe=3))
    pre_files, _ = idx.table._snapshot_files()
    idx.compact(target_partitions=4)
    post_files, _ = idx.table._snapshot_files()
    assert len(post_files) < len(pre_files)  # compaction happened
    assert rows(idx.probe(queries, k=5, n_probe=3)) == before  # physical only
    # Z-order stats keep IN-skipping alive without hive paths
    kept, total = idx.table.plan_files(("cell", "in", [0]))
    assert total == len(post_files) and len(kept) < total

    # forget: full-probe exactness against numpy over the REMAINING set
    X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    victims = {r.neighbor_id for r in idx.probe(queries, k=2, n_probe=8).collect()}
    idx.forget(victims)
    ids = sorted(set(X) - victims)

    def exact(qid, k=5):
        return [
            i
            for _, i in sorted(
                (round(float(((X[i] - X[qid]) ** 2).sum()), 6), i)
                for i in ids
                if i != qid
            )[:k]
        ]

    full = idx.probe(queries, k=5, n_probe=8, shortlist_factor=len(ids))
    got = {}
    for r in full.collect():
        got.setdefault(r.q_id, []).append(r.neighbor_id)
    assert got == {q: exact(q) for q in got} and len(got) == 3


@pytest.mark.slow
def test_ivfpq_sampled_training_exact_and_deterministic(spark, tmp_path):
    # Quantizers train on a bounded deterministic hash-sample (the
    # 100 TB shape: training cost is O(sample), only assign+encode
    # scans the corpus). Sampling moves recall, never re-rank
    # exactness; same corpus + seed -> identical quantizers.
    import numpy as np

    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = S.ivfpq_build_index(
        emb, str(tmp_path / "s1"), n_cells=8, m=8, k_codes=16,
        pq_iters=1, max_train_rows=200,
    )
    b2 = S.ivfpq_build_index(
        emb, str(tmp_path / "s2"), n_cells=8, m=8, k_codes=16,
        pq_iters=1, max_train_rows=200,
    )
    assert b1 == b2  # deterministic sample -> identical codebooks

    # the sample genuinely bounded training: codebook entries differ
    # from the full-corpus-trained books
    full = S.ivfpq_build_index(
        emb, str(tmp_path / "f"), n_cells=8, m=8, k_codes=16, pq_iters=1
    )
    assert b1 != full

    X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    ids = sorted(X)

    def exact(qid, k=5):
        return [
            i
            for _, i in sorted(
                (round(float(((X[i] - X[qid]) ** 2).sum()), 6), i)
                for i in ids
                if i != qid
            )[:k]
        ]

    queries = emb.where(F.col("vec_id") < 3)
    got = {}
    for r in S.ivfpq_probe_topk(
        spark, str(tmp_path / "s1"), queries, k=5, n_probe=8,
        shortlist_factor=(len(ids) // 5) + 1,
    ).collect():
        got.setdefault(r.q_id, []).append(r.neighbor_id)
    assert got == {q: exact(q) for q in got} and len(got) == 3


@pytest.mark.slow
def test_ann_probe_broadcast_fallbacks_preserve_results(spark, tmp_path, monkeypatch):
    # q_cells/q_lut are |Q| x n_probe rows; past the bound the hint is
    # dropped and the join re-plans — results must be identical. Bound
    # chosen so the guard itself still passes (|Q| <= MAX) but the
    # inflated relation does not (|Q| * n_probe > MAX).
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    hinted_ivf = rows(S.ivf_topk(emb, queries, k=3, n_cells=8, n_probe=4))
    idx = str(tmp_path / "pq")
    S.ivfpq_build_index(emb, idx, n_cells=8, m=8, k_codes=16, pq_iters=1)
    hinted_pq = rows(S.ivfpq_probe_topk(spark, idx, queries, k=3, n_probe=4))

    monkeypatch.setattr(S, "MAX_BROADCAST_QUERIES", 10)  # 5*4=20 > 10
    assert rows(S.ivf_topk(emb, queries, k=3, n_cells=8, n_probe=4)) == hinted_ivf
    assert (
        rows(S.ivfpq_probe_topk(spark, idx, queries, k=3, n_probe=4)) == hinted_pq
    )
    assert hinted_ivf and hinted_pq


def test_l2_normalize_zero_vectors_and_cosine_identity(spark):
    import math

    from data_pipeline_with_spark_spark.llm import similarity as S

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = {r.vec_id: r.embedding for r in S.l2_normalize(df).collect()}
    assert out[1] == [0.6, 0.8]
    assert out[2] is None  # zero vector: no direction, not NaN
    # identity: |a-b|^2 == 2 - 2*cos on the unit sphere
    a, b = out[1], out[3]
    l2 = sum((x - y) ** 2 for x, y in zip(a, b))
    cos = sum(x * y for x, y in zip(a, b))
    assert math.isclose(l2, 2 - 2 * cos, rel_tol=1e-12)


@pytest.mark.slow
def test_ivfpq_on_normalized_embeddings_serves_cosine(spark, tmp_path):
    # The full cosine-serving path: normalize -> IVFPQ (L2 metric) ->
    # probe. Under a full probe + corpus-wide shortlist the neighbor
    # ranking must equal the exact COSINE ranking — the sphere identity
    # carried through index build, residual PQ encode and re-rank.
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = S.l2_normalize(read_testdata(spark, "/root/testdata/sf0.001", "embeddings"))
    n = emb.count()
    queries = emb.where(F.col("vec_id") < 4)
    idx = str(tmp_path / "cosidx")
    S.ivfpq_build_index(emb, idx, n_cells=8, m=8, k_codes=16, pq_iters=1)
    via_index = {}
    for r in S.ivfpq_probe_topk(
        spark, idx, queries, k=5, n_probe=8, shortlist_factor=(n // 5) + 1
    ).collect():
        via_index.setdefault(r.q_id, []).append(r.neighbor_id)
    via_cosine = {}
    for r in S.brute_force_topk(emb, queries, k=5).collect():
        via_cosine.setdefault(r.q_id, []).append(r.neighbor_id)
    assert via_index == via_cosine and len(via_index) == 4


def test_ivfpq_assign_is_zero_shuffle_projection(spark):
    # Cell assignment must be a literal-argmin projection: no Window,
    # no Sort, no per-id hash Exchange — the corpus streams through one
    # narrow pass (the earlier window shape shuffled on the unique id).
    from data_pipeline_with_spark_spark.llm.similarity import _ivfpq_assign

    emb = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    out = _ivfpq_assign(emb, [[0.0] * 8, [1.0] * 8, [0.5] * 8])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_pq_train_bounded_sample_deterministic(spark):
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = S.pq_train(emb, m=4, k_codes=8, iters=1, max_train_rows=150)
    b2 = S.pq_train(emb, m=4, k_codes=8, iters=1, max_train_rows=150)
    full = S.pq_train(emb, m=4, k_codes=8, iters=1, max_train_rows=None)
    assert b1 == b2  # deterministic hash-sample
    assert b1 != full  # and the bound genuinely reduced the train set
    # default bound (100k) >= this corpus: defaulted call == full train
    assert S.pq_train(emb, m=4, k_codes=8, iters=1) == full


def test_ivfpq_null_embeddings_are_unindexable(spark, tmp_path):
    # A normalized zero vector has no direction (l2_normalize -> NULL):
    # it must be excluded from the index uniformly (build AND ingest),
    # never written to a NULL cell partition no probe reads.
    from data_pipeline_with_spark_spark.llm import similarity as S

    rows = [(i, [float(i + 1), float(2 * i + 1)]) for i in range(20)]
    df = S.l2_normalize(
        spark.createDataFrame(
            rows + [(99, [0.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
        )
    )
    idx = S.VersionedIvfPqIndex.build(
        df, str(tmp_path / "n"), n_cells=2, m=2, k_codes=4, pq_iters=1
    )
    idx.ingest(
        S.l2_normalize(
            spark.createDataFrame(
                [(100, [1.0, 3.0]), (101, [0.0, 0.0])],
                "vec_id LONG, embedding ARRAY<DOUBLE>",
            )
        ),
        batch_id=0,
    )
    ids = {r.vec_id for r in idx.table.read().collect()}
    assert 99 not in ids and 101 not in ids and 100 in ids
    assert len(ids) == 21


def test_l2_family_excludes_null_embeddings(spark):
    # l2_normalize emits NULL for zero vectors; Spark ASC defaults to
    # NULLS FIRST, so an unfiltered NULL candidate would be every
    # query's rank-1 "neighbor" in the ascending-distance family (r7
    # advice). NULLs must be excluded uniformly: corpus side, query
    # side, and pq_encode output.
    from data_pipeline_with_spark_spark.llm import similarity as S

    rows = [(i, [float(i + 1), float(2 * i + 1)]) for i in range(12)]
    df = S.l2_normalize(
        spark.createDataFrame(
            rows + [(99, [0.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
        )
    )
    queries = df.where(F.col("vec_id").isin(0, 99))

    bf = S.brute_force_l2_topk(df, queries, k=3).collect()
    assert {r.q_id for r in bf} == {0}  # NULL-embedding query drops out
    assert all(r.neighbor_id != 99 and r.l2_sq is not None for r in bf)

    books = S.pq_train(df, m=2, k_codes=4, iters=1)
    codes = S.pq_encode(df, books)
    assert {r.vec_id for r in codes.collect()} == {r[0] for r in rows}
    assert all(r.pq_codes is not None for r in codes.collect())

    adc = S.pq_topk(codes, queries, books, k=3).collect()
    assert {r.q_id for r in adc} == {0}
    assert all(r.neighbor_id != 99 and r.adc_dist is not None for r in adc)

    ref = S.pq_topk_refined(df, codes, queries, books, k=3).collect()
    assert {r.q_id for r in ref} == {0}
    assert all(r.neighbor_id != 99 and r.l2_dist is not None for r in ref)

    # legacy NULL-codes rows (pre-fix encodes) are skipped, not ranked
    legacy = codes.unionByName(
        spark.createDataFrame([(99, None)], "vec_id LONG, pq_codes ARRAY<INT>")
    )
    adc2 = S.pq_topk(legacy, queries, books, k=3).collect()
    assert all(r.neighbor_id != 99 for r in adc2)


def test_pq_topk_refined_guards_query_side_once(spark):
    # pq_topk_refined shares the ADC core with pq_topk instead of
    # calling it, so its build collects the query side exactly once:
    # one bounded job, and no session cache registered for it.
    from data_pipeline_with_spark_spark import util
    from data_pipeline_with_spark_spark.llm import similarity as S

    util.release_session_caches()
    df = spark.createDataFrame(
        [(i, [float(i + 1), float(i % 3)]) for i in range(10)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    books = S.pq_train(df, m=2, k_codes=4, iters=1)
    codes = S.pq_encode(df, books)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = S.pq_topk_refined(df, codes, df.limit(3), books, k=2)
    assert dag.nextJobId() - j0 == 1
    assert not util._SESSION_CACHES
    assert out.count() == 6


@pytest.mark.slow
def test_versioned_ivfpq_concurrent_ingest_serializes_or_conflicts(spark, tmp_path):
    # Two independent writers (one table handle each, like two jobs)
    # racing increments into the same index: every attempt must either
    # commit serialized or fail LOUDLY with the OCC conflict and
    # succeed on retry — no lost rows, no cross-writer staging
    # clobbers (data dirs are unique per attempt). Encodes are
    # precomputed so the race is on the commit protocol itself.
    import threading

    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.llm import similarity as S
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    idx = S.VersionedIvfPqIndex.build(
        emb.where("vec_id < 100"), str(tmp_path / "c"),
        n_cells=4, m=4, k_codes=8, pq_iters=1,
    )
    table_root = idx.table.root
    batches = [
        idx.encode(emb.where(f"vec_id >= {100 + 50 * i} AND vec_id < {150 + 50 * i}"))
        for i in range(4)
    ]
    for b in batches:
        b.cache().count()  # materialize so threads only race the commit
    errors, done, conflicts = [], [], []

    def writer(my):
        handle = VersionedTable(spark, str(table_root))  # own handle
        for b in my:
            for _ in range(50):
                try:
                    handle.append(b)
                    done.append(1)
                    break
                except RuntimeError as e:
                    if "conflict" not in str(e):
                        errors.append(e)
                        break
                    conflicts.append(1)  # loud conflict: retry
            else:
                errors.append(RuntimeError("retries exhausted"))

    ts = [
        threading.Thread(target=writer, args=([batches[0], batches[1]],)),
        threading.Thread(target=writer, args=([batches[2], batches[3]],)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert len(done) == 4
    ids = {r.vec_id for r in idx.table.read().collect()}
    assert ids == {r.vec_id for r in emb.where("vec_id < 300").collect()}
    # losers' orphan attempt-dirs (if any) are unreferenced -> vacuumable
    # (retention 0: by default young never-committed dirs are presumed
    # in-flight and skipped — the r8 race guard)
    orphans = idx.table.vacuum(
        keep_versions=len(idx.table.history()),
        dry_run=True,
        orphan_retention_seconds=0,
    )
    for b in batches:
        b.unpersist()


def test_lsh_default_cap_drops_mega_boilerplate_bucket(spark):
    # The scale-safe cap is now the DEFAULT (r8 verdict item #2): a
    # bucket larger than DEFAULT_MAX_BUCKET vanishes with no parameter
    # passed, while max_bucket=None — the documented oracle-exact
    # opt-in — returns the full B^2 pair set.
    n = dedup.DEFAULT_MAX_BUCKET + 100
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("all rights reserved boilerplate cookie banner text").alias("text"),
    )
    assert dedup.minhash_candidate_pairs(docs).count() == 0
    assert (
        dedup.minhash_candidate_pairs(docs, max_bucket=None).count()
        == n * (n - 1) // 2
    )


def test_lsh_bucket_metrics_observation(spark):
    # The "loud metric": an Observation attached via bucket_metrics
    # reports bucket count / max size / dropped count for free, inside
    # the same job that produced the pairs.
    from pyspark.sql import Observation

    rows = [
        (i, "shared boilerplate text common to every single doc here")
        for i in range(1, 7)
    ]
    # a surviving near-pair keeps the final result NON-empty: under
    # AQE an empty final result elides the CollectMetrics node (the
    # documented caveat), which is not the case under test here
    rows += [
        (10, "the quick brown fox jumps over the lazy dog again today"),
        (11, "the quick brown fox jumps over the lazy dog again now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    obs = Observation("lsh_buckets")
    out = dedup.minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, max_bucket=4, bucket_metrics=obs
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    m = obs.get
    assert m["max_bucket_size"] == 6
    assert m["n_buckets_dropped"] >= 1
    assert m["n_buckets"] >= m["n_buckets_dropped"]
    # and the dropped boilerplate bucket produced no pairs
    assert not any(a <= 6 and b <= 6 for a, b in pairs)


def test_lsh_cap_cliff_recovered_by_exact_groups(spark):
    # r12 verdict task 7: the documented recall CLIFF — a duplicate
    # CLUSTER larger than the cap overflows EVERY band bucket it
    # touches and loses ALL its pairs at once — demonstrated against
    # the exact-group backstop that recovers it, with the Observation
    # metrics asserting the drop happened in-job. Mirrors the
    # oracle-checked entry dedup_lsh_cap_cliff_recovery.
    from pyspark.sql import Observation

    mega = [(100 + i, "identical mega cluster boilerplate body text repeated")
            for i in range(13)]
    near = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again now"),
    ]
    docs = spark.createDataFrame(mega + near, "doc_id LONG, text STRING")
    obs = Observation("cliff")
    pairs = dedup.minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, max_bucket=8, bucket_metrics=obs
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # the cliff: not ONE of the mega-cluster's 78 pairs survives...
    assert not any(a >= 100 and b >= 100 for a, b in got)
    # ...while the organic near-pair does (other buckets are small)
    assert (1, 2) in got
    m = obs.get
    assert m["max_bucket_size"] == 13 and m["n_buckets_dropped"] >= 8
    # the backstop: exact hash-group dedup (linear, no pairs) recovers
    # the whole planted cluster under one keeper
    groups = {
        r.keeper_id: r.n_copies
        for r in dedup.exact_dedup_groups(docs).collect()
    }
    assert groups.get(100) == 13


def test_near_dup_pairs_cap_passthrough(spark):
    # near_dup_pairs forwards max_bucket: with a tiny cap the
    # boilerplate cluster's candidates never reach the Jaccard verify,
    # with None the full pipeline sees them.
    rows = [
        (i, "common header shared by every document in this corpus")
        for i in range(1, 6)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = dedup.near_dup_pairs(
        docs, threshold=0.5, num_hashes=16, bands=8, max_bucket=2
    ).count()
    exact = dedup.near_dup_pairs(
        docs, threshold=0.5, num_hashes=16, bands=8, max_bucket=None
    ).count()
    assert capped == 0 and exact == 10


def test_dsir_select_prefers_target_like_docs(spark):
    # Planted signal: docs sharing the target domain's vocabulary must
    # out-weigh noise docs; Gumbel-top-k is deterministic per salt.
    from data_pipeline_with_spark_spark.llm import packing

    target = [(i, "tgt", "quantum flux capacitor resonance theory") for i in range(5)]
    like = [(10 + i, "raw", "quantum resonance theory of flux") for i in range(3)]
    noise = [
        (20 + i, "raw", f"mundane shopping list item {i} bread milk eggs")
        for i in range(10)
    ]
    df = spark.createDataFrame(target + like + noise, ["doc_id", "source", "text"])
    scored = packing.dsir_select(df, F.col("source") == "tgt", n_buckets=32)
    lw = {r.doc_id: r.logweight for r in scored.collect()}
    # every target-vocab doc beats every noise doc on raw logweight
    assert min(lw[d] for d, *_ in target + like) > max(lw[d] for d, *_ in noise)

    sel = packing.dsir_select(df, F.col("source") == "tgt", n_buckets=32, top_k=6)
    picked = sorted(r.doc_id for r in sel.collect())
    assert len(picked) == 6
    # deterministic: the same salt reproduces the same selection
    again = sorted(
        r.doc_id
        for r in packing.dsir_select(
            df, F.col("source") == "tgt", n_buckets=32, top_k=6
        ).collect()
    )
    assert picked == again
    # a different salt reshuffles the Gumbel noise (scores change)
    other = packing.dsir_select(
        df, F.col("source") == "tgt", n_buckets=32, salt="dsir-v2"
    )
    s1 = {r.doc_id: r.score for r in scored.collect()}
    s2 = {r.doc_id: r.score for r in other.collect()}
    assert any(s1[d] != s2[d] for d in s1)


def test_dsir_select_handles_empty_text(spark):
    from data_pipeline_with_spark_spark.llm import packing

    df = spark.createDataFrame(
        [(1, "tgt", "alpha beta"), (2, "raw", ""), (3, "raw", "alpha beta")],
        ["doc_id", "source", "text"],
    )
    rows = {r.doc_id: r for r in
            packing.dsir_select(df, F.col("source") == "tgt").collect()}
    assert rows[2].n_feats == 0 and rows[2].logweight == 0.0
    assert rows[3].n_feats == 3  # 2 unigrams + 1 bigram
    assert len(rows) == 3


def test_repeated_spans_detects_cross_doc_substring(spark):
    # A 10-token sentence shared VERBATIM by two docs at different
    # offsets must flag its sliding 8-gram windows in both; a doc with
    # unique text flags nothing; short docs (< k tokens) get 0 grams.
    shared = "the quick brown fox jumps over the lazy sleeping dog"
    rows = [
        (1, "intro words then " + shared),
        (2, shared + " and a different tail entirely here"),
        (3, "totally unique content nothing repeated anywhere in corpus at all"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.repeated_spans(df, k=8).collect()}
    # 10 shared tokens -> 3 shared 8-gram windows in each carrier
    assert out[1].n_dup_spans == 3 and out[2].n_dup_spans == 3
    assert out[3].n_dup_spans == 0
    assert out[4].n_grams == 0 and out[4].dup_span_ratio == 0.0
    # window counts: doc1 has 13 tokens -> 6 windows
    assert out[1].n_grams == 6


def test_quality_classifier_separates_planted_domains(spark):
    # On a separable corpus the in-engine LR must rank every target-
    # domain doc above every noise doc, generalize to unseen
    # target-like docs, and be deterministic run-to-run (the round-6
    # quantization doctrine makes every GD round's inputs exact).
    from data_pipeline_with_spark_spark.llm import classifier as C

    target = [
        (i, "tgt", "elegant mathematical prose about theorems and lemmas today")
        for i in range(8)
    ]
    noise = [
        (20 + i, "raw", f"buy cheap pills now click here winner {i} prize")
        for i in range(12)
    ]
    unseen = [(40 + i, "raw", "elegant prose about mathematical theorems") for i in range(3)]
    df = spark.createDataFrame(target + noise + unseen, ["doc_id", "source", "text"])
    w = C.train_quality_classifier(df, F.col("source") == "tgt", n_buckets=64, iters=5)
    assert len(w) == 65 and all(x == round(x, 6) for x in w)  # quantized
    w2 = C.train_quality_classifier(df, F.col("source") == "tgt", n_buckets=64, iters=5)
    assert w == w2  # deterministic
    s = {r.doc_id: r.quality_score for r in C.score_quality(df, w).collect()}
    t_min = min(s[d] for d, *_ in target)
    n_max = max(s[d] for d, *_ in noise)
    assert t_min > n_max
    # unseen target-vocab docs score above the noise ceiling too
    assert all(s[d] > n_max for d, *_ in unseen)


def test_quality_classifier_featurize_is_quantized(spark):
    # tf values and collision-folded sums are round-6 exact, and the
    # bias row rides every doc (bucket == n_buckets, x == 1.0).
    from data_pipeline_with_spark_spark.llm import classifier as C

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "")], ["doc_id", "text"]
    )
    rows = C.featurize(df, n_buckets=16).collect()
    bias = [(r.doc_id, r.x) for r in rows if r.bucket == 16]
    assert sorted(bias) == [(1, 1.0), (2, 1.0)]
    feats = [r for r in rows if r.bucket < 16]
    assert all(r.doc_id == 1 for r in feats)  # empty doc: bias only
    # doc 1 features: unigrams a(2) b(1), bigrams "a b"(1) "b a"(1) -> n=5
    assert abs(sum(r.x for r in feats) - 1.0) < 1e-6
    assert all(r.x == round(r.x, 6) for r in feats)


def test_doremi_weights_upweight_hard_domain(spark, tmp_path):
    # A domain whose text the reference LM cannot predict (tokens absent
    # from the training slice) must receive the highest mixture weight;
    # weights are a softmax (positive, sum ~ 1).
    from data_pipeline_with_spark_spark.plans import all_queries

    easy = [(i, "srcA", "alpha beta gamma delta " * 5) for i in range(0, 40, 2)]
    also = [(i, "srcB", "alpha beta gamma delta epsilon " * 4) for i in range(1, 40, 2)]
    hard = [(100 + i, "srcC", f"zxq{i} wvut{i*3} qqqq{i*7} mmm{i} nn{i}") for i in range(10)]
    df = spark.createDataFrame(easy + also + hard, ["doc_id", "source", "text"])
    # route through the catalog entry by staging a documents.parquet
    # (the entry reads only the documents table)
    d = tmp_path / "sf"
    d.mkdir()
    df.write.parquet(str(d / "documents.parquet"))
    out = all_queries()["curation_doremi_weights"].build(spark, str(d))
    rows = {r.source: r for r in out.collect()}
    assert rows["srcC"].excess_nll > 0 > min(rows["srcA"].excess_nll, rows["srcB"].excess_nll)
    assert rows["srcC"].weight == max(r.weight for r in rows.values())
    assert abs(sum(r.weight for r in rows.values()) - 1.0) < 1e-4


def test_quantizer_cache_eviction_unpersists_dataframes(spark):
    # r9 advice: evicting a persisted _probe_const_df without
    # unpersist() leaked the InMemoryRelation in Spark's CacheManager
    # for the life of the session. Eviction must release it.
    from data_pipeline_with_spark_spark.llm import similarity as S

    saved = dict(S._QUANTIZER_CACHE)
    S._QUANTIZER_CACHE.clear()
    try:
        df = spark.range(1).persist()
        df.count()  # materialize the cache entry
        assert df.storageLevel.useMemory
        S._quantizer_cache_put(("k0",), df)
        for i in range(S.MAX_QUANTIZER_CACHE_ENTRIES):
            S._quantizer_cache_put((f"filler{i}",), i)  # evicts k0 first
        assert ("k0",) not in S._QUANTIZER_CACHE
        assert not df.storageLevel.useMemory  # unpersisted on eviction
    finally:
        S._QUANTIZER_CACHE.clear()
        S._QUANTIZER_CACHE.update(saved)


def test_phash_pairs_banded_path_matches_broadcast_path(spark):
    # r10: phash_near_dup_pairs dispatches on broadcast-ability — small
    # fingerprint frames take a broadcast hamming self-join, large ones
    # the banded LSH. Pigeonhole (63 bits, 9 bands of 7, hamming <= 4)
    # says the two must return EXACTLY the same pairs; pin that by
    # forcing the banded path with broadcasting disabled.
    df = spark.createDataFrame(
        [(i, i % 8) for i in range(64)], ["doc_id", "img_class"]
    )
    assets = multimodal.attach_image_payload(df, id_col="img_class")
    hashed = multimodal.perceptual_hash(assets)

    def pairs():
        return sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in multimodal.phash_near_dup_pairs(hashed, max_hamming=4).collect()
        )

    fast = pairs()
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        banded = pairs()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert fast == banded and len(fast) > 0


def test_longest_dup_spans_planted_two_lengths(spark):
    # r9 verdict lead #9: variable-length exact-substring dedup must
    # recover PLANTED cross-doc substrings at two different lengths
    # exactly (12 and 20 tokens, k=8), report docs without duplication
    # as zero, and merge overlapping duplicated k-grams into ONE region.
    common12 = " ".join(f"c{i}" for i in range(12))
    common20 = " ".join(f"d{i}" for i in range(20))
    rows = [
        (1, "alpha beta " + common12 + " gamma delta epsilon zeta eta theta"),
        (2, "one two three " + common12 + " four five six seven eight nine"),
        (3, common20 + " unique tail here now ok yes no maybe"),
        (4, "start words " + common20),
        (5, "totally unrelated text with no duplicated spans at all whatsoever indeed"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.longest_dup_spans(df, k=8).collect()}
    assert (out[1].n_dup_regions, out[1].max_dup_span, out[1].dup_tokens) == (1, 12, 12)
    assert (out[2].n_dup_regions, out[2].max_dup_span, out[2].dup_tokens) == (1, 12, 12)
    assert (out[3].n_dup_regions, out[3].max_dup_span, out[3].dup_tokens) == (1, 20, 20)
    assert (out[4].n_dup_regions, out[4].max_dup_span, out[4].dup_tokens) == (1, 20, 20)
    assert (out[5].n_dup_regions, out[5].max_dup_span, out[5].dup_tokens) == (0, 0, 0)
    assert out[4].dup_token_ratio == round(20 / 22, 6)


def test_longest_dup_spans_two_separate_regions(spark):
    # two disjoint duplicated substrings in one doc -> two regions, and
    # the doc-level totals add up
    a = " ".join(f"x{i}" for i in range(9))
    b = " ".join(f"y{i}" for i in range(10))
    rows = [
        (1, a + " filler one two three four five six seven " + b),
        (2, a + " completely different middle content here again " + b),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.longest_dup_spans(df, k=8).collect()}
    for d in (1, 2):
        assert out[d].n_dup_regions == 2
        assert out[d].max_dup_span == 10
        assert out[d].dup_tokens == 19


def test_driver_cell_ranking_matches_sql_kernels_bitwise(spark):
    # _rank_cells scores on the driver with the SQL kernels' sequential
    # folds: cosine and squared-L2 scores are bit-identical to the
    # executor's dot/_sq_dist_cols, so cell rankings agree with SQL.
    import numpy as np

    from data_pipeline_with_spark_spark.llm import similarity as S

    rng = np.random.RandomState(11)
    A = rng.randn(6, 16).astype(np.float32).astype(np.float64)
    B = rng.randn(5, 16)
    A[0, :3] = -0.0
    rows = spark.createDataFrame(
        [(i, a.tolist(), b.tolist()) for i, a in enumerate(A) for b in B],
        "i INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    ).select(
        S.cosine(F.col("a"), F.col("b")).alias("cos"),
        S._sq_dist_cols(F.col("a"), F.col("b")).alias("l2"),
    ).collect()
    X = A[:, None, :]
    cos = S._np_fold(X, B) / (np.sqrt(S._np_fold(X, X)) * np.sqrt(S._np_fold(B, B)))
    l2 = S._np_fold(X, B, S._sq_term)
    assert [r.cos for r in rows] == cos.ravel().tolist()
    assert [r.l2 for r in rows] == l2.ravel().tolist()
    ties = np.vstack([B, B[:1]]).tolist()  # cell 5 duplicates cell 0
    for metric in ("l2", "cosine"):
        order = S._rank_cells(A, ties, 6, metric).tolist()
        assert all(o.index(0) + 1 == o.index(5) for o in order)  # lowest cell first
    assert S._rank_cells(A, ties, 2, "l2").shape == (6, 2)


def test_ivfpq_probe_driver_lut_path_matches_sql_path(spark, tmp_path):
    # r10: serving-sized query sets compute cell ranking + ADC LUTs
    # driver-side (numpy) and ship one Arrow frame; past the bound the
    # SQL pipeline runs. Both paths must return identical rows here
    # (same shortlist membership, re-rank distance computed SQL-side
    # in both).
    from data_pipeline_with_spark_spark.llm import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    S.ivfpq_build_index(emb, idx, n_cells=8, m=8, k_codes=16, pq_iters=1)
    q = emb.where("vec_id < 7")

    def probe():
        return sorted(
            tuple(r)
            for r in S.ivfpq_probe_topk(
                spark, idx, q, k=5, n_probe=3, shortlist_factor=10
            ).collect()
        )

    fast = probe()
    saved = S.PROBE_DRIVER_LUT_MAX_QUERIES
    S.PROBE_DRIVER_LUT_MAX_QUERIES = 0
    try:
        big = probe()
    finally:
        S.PROBE_DRIVER_LUT_MAX_QUERIES = saved
    assert fast == big and len(fast) == 35


def test_semantic_dedup_auto_planted_duplicates(spark):
    # the scale variant must drop planted near-identical vectors (keep
    # min id) and keep well-separated ones, same contract as the twin
    import numpy as np

    rng = np.random.RandomState(4)
    base = rng.randn(30, 16)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant: ids 100..104 duplicate id 0's direction (tiny jitter)
    for j in range(5):
        rows.append((100 + j, [float(x) for x in base[0] + rng.randn(16) * 1e-4]))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    from data_pipeline_with_spark_spark.llm import similarity as S

    kept = {r.vec_id for r in S.semantic_dedup_auto(emb, threshold=0.95).collect()}
    assert 0 in kept  # min-id keeper survives
    assert not (kept & {100, 101, 102, 103, 104})  # clones dropped
    assert len(kept & set(range(1, 30))) >= 25  # separated vectors kept


def test_semantic_dedup_auto_agrees_with_twin_single_cell(spark):
    # when everything lands in the same comparison scope, the numpy
    # path and the expression-fold twin must pick identical survivors
    import numpy as np

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(12)]
    rows += [(50 + j, [x * 1.001 for x in rows[j][1]]) for j in range(3)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    from data_pipeline_with_spark_spark.llm import similarity as S

    twin = {r.vec_id for r in S.semantic_dedup(emb, k=2, iters=2, threshold=0.999).collect()}
    auto = {
        r.vec_id
        for r in S.semantic_dedup_auto(emb, threshold=0.999, max_cells=2).collect()
    }
    # scaled copies have cosine 1.0 to their source: dropped by both
    assert not ({50, 51, 52} & twin) and not ({50, 51, 52} & auto)
    assert set(range(12)) <= twin and set(range(12)) <= auto


def test_decontaminate_bloom_equals_exact_and_prefilter_fires(spark):
    # Bloom prefilter + exact verify must EQUAL the exact join (no
    # false negatives by construction), and the prefilter must actually
    # drop the bulk of clean-corpus grams before the join.
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probe = docs.where("doc_id % 10 = 0")
    corpus = docs.where("doc_id % 10 <> 0")
    exact = {
        (r.doc_id, r.n_shared_grams)
        for r in dedup.decontamination_overlap(corpus, probe, k_shingle=5).collect()
    }
    bloom = {
        (r.doc_id, r.n_shared_grams)
        for r in dedup.decontaminate_bloom(corpus, probe, k_shingle=5).collect()
    }
    assert bloom == exact and exact  # identical result, non-degenerate

    # FP behavior: a disjoint-vocabulary corpus passes ~0 grams (the
    # 1M-bit filter at this probe density keeps the FP rate tiny)
    clean = spark.createDataFrame(
        [(900 + i, " ".join(f"zz{i}w{j}" for j in range(40))) for i in range(20)],
        ["doc_id", "text"],
    )
    assert dedup.decontaminate_bloom(clean, probe, k_shingle=5).count() == 0


def test_remove_dup_spans_cuts_planted_substring(spark):
    # the cleaned text is exactly the original minus the planted common
    # substring (both copies cut); untouched docs keep their digest
    import hashlib

    common = " ".join(f"c{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + common + " gamma delta"),
        (2, "one two three " + common + " four"),
        (3, "nothing shared in this document at all whatsoever really truly"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.remove_dup_spans(df, k=8).collect()}
    assert out[1].n_kept == 4
    assert out[1].dedup_digest == hashlib.md5(b"alpha beta gamma delta").hexdigest()
    assert out[2].dedup_digest == hashlib.md5(b"one two three four").hexdigest()
    assert out[3].n_kept == out[3].n_tokens == 10
    assert out[3].dedup_digest == hashlib.md5(rows[2][1].encode()).hexdigest()


def test_hybrid_rrf_fusion_math(spark):
    """RRF invariants on the registered entry at sf0.001: every fused
    score is exactly the sum of integer-scaled leg contributions, rows
    come out rank-ordered, and a doc present in BOTH legs outranks
    every single-leg doc whose best leg rank is worse-or-equal — the
    consensus property fusion exists for (the rank-1 doc at this
    fixture is lex 6 + sem 14, beating both leg winners)."""
    from data_pipeline_with_spark_spark.plans.catalog_llm import (
        _hybrid_rrf_search,
    )

    q = _hybrid_rrf_search
    rows = q(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    scale, kk = 10**9, 60
    prev = None
    for r in rows:
        expect = (scale // (kk + r.rank_lex) if r.rank_lex > 0 else 0) + (
            scale // (kk + r.rank_sem) if r.rank_sem > 0 else 0
        )
        assert r.rrf_score == expect, r
        assert 0 <= r.rank_lex <= 20 and 0 <= r.rank_sem <= 20
        assert r.rank_lex > 0 or r.rank_sem > 0
        if prev is not None:
            assert (prev.rrf_score, -prev.doc_id) >= (r.rrf_score, -r.doc_id)
        prev = r
    both = [r for r in rows if r.rank_lex > 0 and r.rank_sem > 0]
    assert both and both[0].rrf_rank == 1  # consensus doc wins at this fixture


def test_hard_negatives_planted_boundary(spark):
    """Planted 2-label geometry: query (1,0) with same-label vectors
    near it and different-label vectors at controlled angles — the
    mined negatives are exactly the different-label set ordered by
    cosine, and the same-label vector that would top a plain top-k is
    excluded."""
    from data_pipeline_with_spark_spark.llm.similarity import (
        brute_force_topk,
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0], 0),     # query, label 0
        (1, [0.999, 0.04], 0),  # same-label near-clone: plain top-1
        (2, [0.9, 0.43], 1),    # hard negative (closest other-label)
        (3, [0.5, 0.86], 1),    # medium negative
        (4, [0.0, 1.0], 1),     # orthogonal negative
        (5, [0.95, 0.31], 0),   # same-label, would rank 2nd plain
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.where("vec_id = 0")
    hn = hard_negatives(df, q, k=3).collect()
    assert [r.neighbor_id for r in hn] == [2, 3, 4]
    assert all(r.neighbor_label == 1 and r.q_label == 0 for r in hn)
    assert [r.rnk for r in hn] == [1, 2, 3]
    # plain top-3 is led by the same-label clones the miner must skip
    plain = [r.neighbor_id for r in brute_force_topk(df, q, k=3).collect()]
    assert plain[:2] == [1, 5] and hn[0].neighbor_id not in plain[:2]


def test_sample_estimate_unbiased_on_uniform_keys(spark):
    """The 1/16 hash-sample estimator on a planted uniform table:
    est_rows lands within 4 sigma of binomial expectation and the
    integer-division mean within the sub-bucket resolution — and the
    sample is DETERMINISTIC (same rows every run, any partitioning)."""
    from pyspark.sql import functions as F

    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit("t").alias("event_type"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    samp = df.where(bucket == "0")
    n_s = samp.count()
    assert n_s == samp.count()  # deterministic re-run
    # binomial(4096, 1/16): mean 256, sigma ~15.5
    assert abs(n_s * 16 - n) <= 4 * 16 * 15.5, n_s
    mean_cents = samp.agg(
        F.expr(
            "CAST(sum(CAST(round(value*100) AS BIGINT)) div count(*) AS BIGINT)"
        )
    ).collect()[0][0]
    assert abs(mean_cents - 4950) < 4 * (2887 / (n_s ** 0.5)) * 100 / 100 + 300


def test_textrank_hub_token_wins(spark):
    """Planted star graph: 'hub' is adjacent to every other token while
    the spokes only ever touch the hub, so weighted PageRank must rank
    the hub first. Also pins the bigram edge semantics: self-pairs
    dropped, weights symmetric (out_weight counts both directions), and
    single-token docs contribute nothing."""
    rows = [
        (1, "hub alpha hub beta"),
        (2, "gamma hub delta hub"),
        (3, "hub hub hub"),  # self-pairs only: no edges
        (4, "solo"),  # < 2 tokens after split: no edges
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.token: r for r in text.textrank_keywords(df, rounds=5).collect()}
    assert "solo" not in out  # isolated token never enters the graph
    assert set(out) == {"hub", "alpha", "beta", "gamma", "delta"}
    # doc 1 bigrams: hub-alpha ×2, hub-beta ×1; doc 2: hub-gamma ×1,
    # hub-delta ×2 — hub's incident weight is the sum, 6
    assert out["hub"].out_weight == 6
    assert out["alpha"].out_weight == 2 and out["delta"].out_weight == 2
    assert out["beta"].out_weight == 1 and out["gamma"].out_weight == 1
    hub_rank = out["hub"].rank
    assert all(hub_rank > out[t].rank for t in ("alpha", "beta", "gamma", "delta"))
    # weight-symmetric spokes get identical ranks (cross-key determinism)
    assert out["alpha"].rank == out["delta"].rank
    assert out["beta"].rank == out["gamma"].rank
    assert out["alpha"].rank > out["beta"].rank  # heavier spoke outranks


def test_cooccurrence_edges_window_and_weights(spark):
    """Edge weights count adjacency in EITHER order: 'a b' + 'b a'
    merge into one undirected edge of weight 2."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b a")], ["doc_id", "text"]
    )
    edges = {(r.a, r.b): r.w for r in text.cooccurrence_edges(df).collect()}
    assert edges == {("a", "b"): 2, ("b", "c"): 1}


def test_novelty_scores_first_occurrence_attribution(spark):
    """Planted corpus: doc 2 is an exact dup of doc 1 (novelty 0 — doc
    1 owns every shared shingle), doc 3 shares a prefix with doc 1 but
    adds new material (strictly between 0 and 1), doc 4 is disjoint
    (novelty 1). Counts pin the k=3 distinct-shingle base."""
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),
        (3, "a b c d x y z w"),
        (4, "p q r s t"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.novelty_scores(df).collect()}
    assert out[1].n_shingles == 4 and out[1].novelty == 1.0
    assert out[2].n_shingles == 4 and out[2].n_novel == 0
    assert out[2].novelty == 0.0
    # doc 3: 6 shingles, shares exactly 'a b c' and 'b c d' with doc 1
    assert out[3].n_shingles == 6 and out[3].n_novel == 4
    assert abs(out[3].novelty - 4 / 6) < 1e-6
    assert out[4].novelty == 1.0


# Ids 3 and 5 share one embedding (the query's own), id 4 has none.
_TIE_CORPUS = [
    (1, [1.0] * 8),
    (2, [2.0] + [1.0] * 7),
    (3, [1.0, 2.0, 3.0, 4.0] * 2),
    (4, None),
    (5, [1.0, 2.0, 3.0, 4.0] * 2),
    (6, [4.0, 3.0, 2.0, 1.0] * 2),
    (7, [1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 4.0]),
    (8, [3.0, 1.0] * 4),
]


@pytest.mark.parametrize(
    "search",
    [
        "brute_force_topk",
        "brute_force_l2_topk",
        "lsh_bucketed_topk",
        "pq_topk",
        "pq_topk_refined",
        "ivfpq_probe_topk-sql_luts",
        "ivfpq_probe_topk-driver_luts",
    ],
)
def test_search_ranks_tie_by_lower_id_and_never_a_null_vector(
    spark, tmp_path, monkeypatch, search
):
    # Every search shares one tie policy: equal scores rank the lower
    # id first, and a NULL embedding never ranks.
    S = similarity
    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(_TIE_CORPUS, schema)
    queries = spark.createDataFrame([(100, [1.0, 2.0, 3.0, 4.0] * 2)], schema)
    if search.startswith("ivfpq"):
        idx = str(tmp_path / "idx")
        S.ivfpq_build_index(corpus, idx, n_cells=2, m=4, k_codes=4, pq_iters=1)
        if search.endswith("sql_luts"):
            monkeypatch.setattr(S, "PROBE_DRIVER_LUT_MAX_QUERIES", 0)
        out = S.ivfpq_probe_topk(
            spark, idx, queries, k=5, n_probe=2, shortlist_factor=2
        )
    elif search.startswith("pq"):
        books = S.pq_train(corpus, m=4, k_codes=4, iters=1)
        codes = S.pq_encode(corpus, books)
        out = (
            S.pq_topk(codes, queries, books, k=5)
            if search == "pq_topk"
            else S.pq_topk_refined(corpus, codes, queries, books, k=5)
        )
    else:
        out = getattr(S, search)(corpus, queries, k=5)
    rank = {r.neighbor_id: r.rnk for r in out.collect()}
    assert len(rank) == 5 and 4 not in rank
    assert rank[5] == rank[3] + 1


def test_mmr_select_prefers_diverse_over_clone(spark):
    """Planted geometry: the query's two most-similar vectors are near
    clones of each other; a third is slightly less query-similar but
    points elsewhere. Plain top-2 takes both clones; MMR must take one
    clone then the diverse vector — and at λ=1/2 the clone's penalty
    (≈ its self-similarity) makes that unambiguous."""
    rows = [
        (0, [1.0, 0.0, 0.0], 0),     # query
        (1, [0.99, 0.14, 0.0], 0),   # clone A  (cos≈0.990)
        (2, [0.99, 0.141, 0.0], 0),  # clone A' (cos≈0.990, sim(A,A')≈1)
        (3, [0.80, 0.0, 0.60], 0),   # diverse  (cos=0.8)
        (4, [0.0, 1.0, 0.0], 0),     # filler
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.mmr_select(
        df, df.where(F.col("vec_id") == 0), k=2, pool=4
    ).collect()
    sel = {r.select_rank: r.neighbor_id for r in out}
    assert sel[1] == 1          # highest cosine wins round 1
    assert sel[2] == 3          # diversity beats the clone in round 2
    # plain top-2 would have been the two clones
    plain = similarity.brute_force_topk(
        df, df.where(F.col("vec_id") == 0), k=2
    ).collect()
    assert {r.neighbor_id for r in plain} == {1, 2}


def test_retrieval_eval_planted_metrics(spark):
    """Planted geometry with known ground truth: query label 0; corpus
    top-3 by cosine is [rel, irrel, rel], so hits=2, first rank 1,
    MRR=SCALE, DCG = D1 + D3, nDCG = (D1+D3)/(D1+D2). A second query
    with zero relevant neighbors exercises the all-zero path."""
    from data_pipeline_with_spark_spark.llm.similarity import (
        EVAL_SCALE,
        _ndcg_discounts,
        retrieval_eval,
    )

    rows = [
        (0, [1.0, 0.0], 0),    # query A, label 0
        (1, [0.99, 0.14], 0),  # rel, rank 1
        (2, [0.95, 0.31], 1),  # irrel, rank 2
        (3, [0.80, 0.60], 0),  # rel, rank 3
        (10, [0.0, 1.0], 5),   # query B, label 5: nothing relevant
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {
        r.q_id: r
        for r in retrieval_eval(
            df, df.where(F.col("vec_id").isin(0, 10)), k=3
        ).collect()
    }
    D = _ndcg_discounts(3)
    a = out[0]
    assert (a.p_at_k_hits, a.first_rel_rank, a.mrr_micros) == (2, 1, EVAL_SCALE)
    assert a.dcg_scaled == D[0] + D[2]
    assert abs(a.ndcg - round((D[0] + D[2]) / (D[0] + D[1]), 6)) < 1e-9
    b = out[10]
    assert (b.p_at_k_hits, b.first_rel_rank, b.mrr_micros, b.dcg_scaled, b.ndcg) == (
        0, 0, 0, 0, 0.0,
    )


def test_exploded_helper_is_exactly_explode(spark):
    # util.exploded (the InferFiltersFromGenerate guard) must reproduce
    # explode()/posexplode() semantics bit-for-bit in every edge case:
    # null elements KEPT as rows, null/empty arrays DROPPED.
    from pyspark.sql import functions as F

    from data_pipeline_with_spark_spark.util import exploded

    df = spark.createDataFrame(
        [(1, ["a", None, "b"]), (2, []), (3, None), (4, ["c"])],
        "id INT, arr ARRAY<STRING>",
    )
    got = sorted(
        ((r.id, r.v) for r in exploded(df, ["id"], "arr", "v").collect()),
        key=str,
    )
    want = sorted(
        ((r.id, r.v) for r in df.select("id", F.explode("arr").alias("v")).collect()),
        key=str,
    )
    assert got == want and (1, None) in got and len(got) == 4

    got_pos = sorted(
        (r.id, r.p, r.v)
        for r in exploded(df, ["id"], "arr", "v", pos="p").collect()
    )
    want_pos = sorted(
        (r.id, r.p, r.v)
        for r in df.select("id", F.posexplode("arr").alias("p", "v")).collect()
    )
    assert got_pos == want_pos


def test_no_inferred_filter_recomputes_computed_arrays(spark):
    # Regression pin for the r12 InferFiltersFromGenerate find: a
    # non-outer explode over a computed array gets an inferred
    # size(arr) > 0 filter that pushdown sinks below every projection,
    # re-evaluating the whole array pipeline (tokenize+shingle+hash) on
    # the scan's few partitions — measured 6x on the novelty pass at
    # sf1. util.exploded neutralizes it; these three shapes have NO
    # deliberate lambda filters, so ANY lambdafunction( inside a Filter
    # node of their optimized plans is the hazard re-appearing.
    from data_pipeline_with_spark_spark.llm import dedup
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    docs = read_testdata(spark, "/root/testdata/sf0.001", "documents")
    frames = {
        "novelty": dedup.novelty_scores(docs),
        "lsh_pairs": dedup.minhash_candidate_pairs(docs),
        "kgram_overlap": dedup.decontamination_overlap(
            docs, docs.where("doc_id < 50")
        ),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            ls = line.strip().lstrip(":+- ")
            if ls.startswith("Filter") and "lambdafunction(" in ls:
                raise AssertionError(
                    f"{name}: pushed-down filter re-evaluates a computed "
                    f"array (InferFiltersFromGenerate regression):\n{ls[:300]}"
                )
