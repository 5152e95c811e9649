"""ANN quality gates (r1 verdict items 2 and 6).

- lsh_cosine_topk must RECALL the exact top-k: the r1 single-table
  exact-signature variant returned 1 candidate for a k=10 query
  (expected bucket population n/256). The multi-table multi-probe fix
  is asserted here at recall ≥ 0.9 on the driver's sf0.01 embeddings —
  the near-orthogonal worst case for sign-LSH.
- embedding_neardup_pairs must find planted near-duplicates: an
  OR-over-8-tables bucket union has miss probability ≈ (1-0.86)^8 per
  cos≥0.95 pair, so every planted pair must surface.
- minhash_dedup must fully merge a 10-doc near-dup CHAIN (A≈B≈C≈…,
  ends dissimilar): the r1 fixed-2-iteration label propagation
  under-merged long chains; the fixpoint loop may not.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def test_lsh_topk_recall(spark):
    from search_engine_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
    ann = [r["vec_id"] for r in lsh_cosine_topk(emb, 0, k=10).collect()]
    assert len(ann) == 10
    recall = len(set(exact) & set(ann)) / len(exact)
    assert recall >= 0.9, f"ANN recall {recall} < 0.9 (ann={ann}, exact={exact})"


def test_neardup_finds_planted_pairs(spark):
    from search_engine_spark.operators.dedup import embedding_neardup_pairs

    # 40 random-ish vectors + 5 planted near-dup pairs (cos ≈ 0.999)
    import math

    def vec(seed: int) -> list[float]:
        # deterministic pseudo-random unit-ish vector, no RNG state
        return [math.sin(0.7 * seed + 1.3 * i) for i in range(64)]

    rows = [(i, vec(i)) for i in range(40)]
    rows += [(100 + i, [x * 1.001 + 1e-4 for x in vec(i)]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    for i in range(5):
        assert (i, 100 + i) in pairs, f"planted pair ({i},{100+i}) missed"


def test_minhash_dedup_merges_ten_doc_chain(spark):
    from search_engine_spark.operators.dedup import minhash_dedup

    # chain doc_i shares 19/20 tokens with doc_{i+1}; ends share nothing
    base = [f"tok{j}" for j in range(30)]
    rows = []
    for i in range(10):
        rows.append((i, " ".join(base[i : i + 20])))
    # plus unrelated docs that must NOT merge
    rows += [(100 + i, f"other{i} thing{i} stuff{i} more{i} word{i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labels = {r["doc_id"]: r["keep_id"] for r in minhash_dedup(docs).collect()}
    chain_labels = {labels[i] for i in range(10)}
    assert chain_labels == {0}, f"chain under-merged: {chain_labels}"
    for i in range(5):
        assert labels[100 + i] == 100 + i


def test_minhash_dedup_labels_are_component_minima(spark):
    """Every keep_id must itself be a fixpoint (keep_id of the
    representative is itself) — a non-converged propagation violates
    this."""
    from search_engine_spark.operators.dedup import minhash_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = minhash_dedup(docs).collect()
    labels = {r["doc_id"]: r["keep_id"] for r in rows}
    for d, k in labels.items():
        assert labels.get(k, k) == k, f"rep {k} of {d} is not a fixpoint"
        assert k <= d


def test_ivf_finds_planted_neighbor(spark):
    """IVF's guarantee: a true near neighbor shares the query's cell
    (same argmax seed), so it is found at ANY n_probe ≥ 1."""
    import math

    from search_engine_spark.operators.similarity import ivf_cosine_topk

    def vec(seed: int) -> list[float]:
        return [math.sin(0.7 * seed + 1.3 * i) for i in range(64)]

    rows = [(i, vec(i)) for i in range(40)]
    rows.append((999, [x * 1.0005 + 1e-4 for x in vec(0)]))  # ≈ vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = [r["vec_id"] for r in ivf_cosine_topk(emb, 0, k=5, n_probe=1).collect()]
    assert top and top[0] == 999, f"planted neighbor not first: {top}"


def test_ivf_assignment_is_total_partition(spark):
    """Every vector lands in exactly one cell, and cells are seed ids."""
    from search_engine_spark.operators.similarity import ivf_assign, ivf_seeds

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seeds = ivf_seeds(emb, 16)
    assigned = ivf_assign(emb, seeds)
    assert assigned.count() == emb.count()
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= {cid for cid, _ in seeds}


def test_topk_missing_query_vector_returns_empty(spark):
    """An unknown query_vec_id yields an empty frame of the call's own
    schema on every by-id path, not an IndexError/TypeError/KeyError."""
    from search_engine_spark.operators.similarity import (
        ivf_cosine_topk,
        lsh_cosine_topk,
        pq_adc_topk,
        pq_topk_rerank,
        pq_train,
        rocchio_cosine_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_train(emb, m=8, ks=4, iters=0)
    for out, score in (
        (lsh_cosine_topk(emb, 10**9), "cos"),
        (ivf_cosine_topk(emb, 10**9), "cos"),
        (pq_adc_topk(emb, books, query_vec_id=999_999), "adc"),
        (pq_topk_rerank(emb, books, query_vec_id=999_999), "d2"),
        (rocchio_cosine_topk(emb, 999_999, [1, 2]), "cos"),
    ):
        assert out.count() == 0
        assert out.schema.simpleString() == f"struct<vec_id:bigint,{score}:double>"


def test_lsh_index_topk_equals_querytime(spark, tmp_path):
    from search_engine_spark.operators.similarity import (
        build_lsh_index,
        lsh_cosine_topk,
        lsh_index_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "lsh")
    build_lsh_index(emb, path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    indexed = [
        (r["vec_id"], r["cos"])
        for r in lsh_index_topk(spark, path, qvec, query_vec_id=0).collect()
    ]
    querytime = [
        (r["vec_id"], r["cos"]) for r in lsh_cosine_topk(emb, 0).collect()
    ]
    assert indexed == querytime
    assert len(indexed) == 10


def test_ivf_index_topk_equals_querytime(spark, tmp_path):
    from search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_cosine_topk,
        ivf_index_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    indexed = [
        (r["vec_id"], r["cos"])
        for r in ivf_index_topk(spark, path, qvec, query_vec_id=0).collect()
    ]
    querytime = [
        (r["vec_id"], r["cos"]) for r in ivf_cosine_topk(emb, 0).collect()
    ]
    assert indexed == querytime
    assert len(indexed) == 10


def test_lsh_batch_probe_equals_perquery_loop(spark, tmp_path):
    """One-job batched probe must be row-for-row equal to the per-query
    lsh_index_topk loop (same candidates, same 6dp rerank, same tie
    rule) — the batch path is the serving-loop shape; a divergence
    would mean the union-of-buckets scan or the query routing join
    changed semantics."""
    from search_engine_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_topk,
        lsh_index_topk_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "lsh")
    build_lsh_index(emb, path)
    idx = spark.read.parquet(path)
    queries = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    batch = lsh_index_topk_batch(spark, idx, queries).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos"]))
    for qid, vec in queries.items():
        loop = [
            (r["vec_id"], r["cos"])
            for r in lsh_index_topk(spark, idx, vec, query_vec_id=qid).collect()
        ]
        assert got[qid] == loop, f"query {qid} diverged"
        assert len(loop) == 10


def test_ivf_batch_probe_equals_perquery_loop(spark, tmp_path):
    from search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_index_topk_batch,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    handle = load_ivf_index(spark, path)
    queries = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    batch = ivf_index_topk_batch(spark, handle, queries).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos"]))
    for qid, vec in queries.items():
        loop = [
            (r["vec_id"], r["cos"])
            for r in ivf_index_topk(spark, handle, vec, query_vec_id=qid).collect()
        ]
        assert got[qid] == loop, f"query {qid} diverged"
        assert len(loop) == 10


def test_pq_codes_partition_and_lloyd_improves(spark):
    """PQ codebook training (Jégou et al. 2011 ADC): every (vec,
    subspace) gets exactly one code in [0, ks), and the Lloyd schedule
    does not worsen total quantization error (the 6dp grid can wiggle
    individual cells, hence the epsilon)."""
    from search_engine_spark.operators.similarity import pq_assign, pq_train

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    books0 = pq_train(emb, m=8, ks=16, iters=0)
    books2 = pq_train(emb, m=8, ks=16, iters=2)
    a2 = pq_assign(emb, books2)
    assert a2.count() == n * 8
    codes = [r["code"] for r in a2.select("code").distinct().collect()]
    assert all(0 <= c < 16 for c in codes)
    err0 = pq_assign(emb, books0).agg(F.sum("d2")).first()[0]
    err2 = a2.agg(F.sum("d2")).first()[0]
    assert err2 <= err0 * 1.001


def test_pq_adc_ranks_like_exact_l2(spark):
    """ADC is an approximation of exact L2 — on the sf0.01 embeddings
    the true nearest neighbors should dominate the ADC top-k."""
    from search_engine_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_train(emb, m=8, ks=16, iters=2)
    got = {r["vec_id"] for r in pq_adc_topk(emb, books, 0, k=50).collect()}
    assert len(got) == 50

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    qcol = F.array(*[F.lit(v) for v in q])
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            qcol,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .select("vec_id", d2.alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    ]
    # candidate recall: the ADC top-50 shortlist holds a usable share of
    # the exact top-10 on these near-random synthetic vectors (measured
    # 0.5 at sf0.01; random vectors are PQ's worst case — real embedding
    # manifolds quantize far better)
    assert len(got & set(exact)) >= 3

    # the full serving shape (ADC shortlist → exact re-rank) recovers
    # more of the exact top-10 than the raw ADC head, and its returned
    # distances are exact
    from search_engine_spark.operators.similarity import pq_topk_rerank

    rr = pq_topk_rerank(emb, books, 0, k=10, candidates=100).collect()
    rr_ids = [r["vec_id"] for r in rr]
    assert len(set(rr_ids) & set(exact)) >= 5
    # re-ranked distances are exact and sorted ascending
    dists = [r["d2"] for r in rr]
    assert dists == sorted(dists)

    # packed codes agree with the row form
    packed = pq_encode(emb, books)
    row = packed.filter(F.col("vec_id") == 3).first()
    assert len(row["codes"]) == 8


def test_semdedup_merges_transitive_chain(spark):
    """SemDeDup groups must be TRANSITIVE closures of the cos≥t pair
    relation within a cluster, not greedy pairwise picks: a chain
    A≈B≈C where cos(A,C) < t must still collapse to one keep_id."""
    import math

    from search_engine_spark.operators.similarity import semdedup

    def vec(seed: int) -> list[float]:
        return [math.sin(0.7 * seed + 1.3 * i) for i in range(64)]

    # chain: v0, v0+0.35*v1, v0+0.8*v1 — adjacent cosines 0.985/0.991,
    # ends 0.954: at threshold 0.98 only adjacency links exist
    base, drift = vec(1), vec(9)
    chain = [
        [b + a * d for b, d in zip(base, drift)] for a in (0.0, 0.35, 0.8)
    ]
    rows = [(i, chain[i]) for i in range(3)]
    # disjoint one-hot singletons: pairwise cosine 0, far from the chain
    rows += [
        (10 + i, [1.0 if j == 10 + i else 0.0 for j in range(64)])
        for i in range(4)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # k=1 ⇒ one cell, so the test isolates the grouping semantics from
    # k-means boundary effects (covered by the oracle-gated k=8 entry)
    labels = {
        r["vec_id"]: r["keep_id"]
        for r in semdedup(emb, k=1, iters=1, threshold=0.98).collect()
    }
    assert {labels[i] for i in range(3)} == {0}, f"chain split: {labels}"
    for i in range(4):
        assert labels[10 + i] == 10 + i, f"singleton {10+i} merged"


def test_cluster_balanced_sample_balances_and_is_stable(spark):
    from search_engine_spark.operators.similarity import (
        cluster_balanced_sample,
        kmeans_clusters,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = cluster_balanced_sample(emb, n=100, k=8, iters=2).collect()
    per_cell = {}
    for r in got:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    sizes = {
        r["cell"]: r["count"]
        for r in kmeans_clusters(emb, k=8, iters=2).groupBy("cell").count().collect()
    }
    # every populated cell contributes, and no cell hogs the sample:
    # binomial(size, quota/size) stays well under 3x the 12-13 quota
    assert set(per_cell) == set(sizes)
    assert all(v <= 40 for v in per_cell.values()), per_cell
    # ~n total (hash-band realization, quota-exact only when rate clamps)
    assert 50 <= len(got) <= 200

    # membership is a pure row function: repartitioning changes nothing
    again = cluster_balanced_sample(
        emb.repartition(7, "vec_id"), n=100, k=8, iters=2
    ).collect()
    assert sorted(r["vec_id"] for r in again) == sorted(r["vec_id"] for r in got)

    # n >= corpus: rate clamps to 1 in every cell -> everything kept
    total = emb.count()
    allrows = cluster_balanced_sample(emb, n=8 * total, k=8, iters=2)
    assert allrows.count() == total


def test_centroid_classify_separable_labels(spark):
    """Two well-separated label clouds: every held-out vector must be
    predicted as its own label; only vec_id % 5 == 0 rows come back."""
    from search_engine_spark.operators.similarity import centroid_classify

    rows = []
    for i in range(20):
        base = [10.0, 10.0] if i % 2 == 0 else [-10.0, -10.0]
        jit = ((i * 37) % 5) * 0.01
        rows.append((i, [base[0] + jit, base[1] - jit], i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = centroid_classify(emb, holdout_mod=5).collect()
    assert {r["vec_id"] for r in out} == {0, 5, 10, 15}
    for r in out:
        assert r["predicted"] == r["label"]
        assert r["d2"] >= 0.0


def test_filtered_cosine_prefilters_not_postfilters(spark):
    from pyspark.sql import functions as F
    from search_engine_spark.operators.similarity import (
        cosine_topk,
        filtered_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    lab = sorted(labels)[0]
    got = filtered_cosine_topk(emb, 0, label=lab, k=10).collect()
    # every hit satisfies the predicate
    hit_labels = {
        r["label"]
        for r in emb.join(
            spark.createDataFrame(
                [(x["vec_id"],) for x in got], "vec_id long"
            ),
            "vec_id",
        ).collect()
    }
    assert hit_labels == {lab}
    # PRE-filter contract: the page fills to k even when the unfiltered
    # top-k holds fewer label matches (the post-filter failure mode)
    n_label = emb.filter(
        (F.col("label") == lab) & (F.col("vec_id") != 0)
    ).count()
    assert len(got) == min(10, n_label)
    # and scores agree with the unfiltered exact path on shared ids
    full = {
        r["vec_id"]: r["cos"] for r in cosine_topk(emb, 0, k=1000).collect()
    }
    for r in got:
        assert full[r["vec_id"]] == r["cos"]


def test_rocchio_moves_query_toward_relevant(spark):
    from search_engine_spark.operators.similarity import rocchio_cosine_topk

    # cluster A around e1, cluster B around e2; query starts ambiguous
    rows = [
        (0, [0.5, 0.5, 0.0, 0.0], 0),    # query: between clusters
        (1, [1.0, 0.05, 0.0, 0.0], 0),   # rel feedback: cluster A
        (2, [0.95, 0.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 1),    # nonrel feedback: cluster B
        (10, [0.9, 0.1, 0.0, 0.0], 0),   # A member
        (11, [0.1, 0.9, 0.0, 0.0], 1),   # B member
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = rocchio_cosine_topk(
        emb, 0, rel_ids=[1, 2], nonrel_ids=[3], k=2
    ).collect()
    # feedback ids excluded; A-member ranks above B-member post-update
    ids = [r["vec_id"] for r in out]
    assert set(ids) <= {10, 11}
    assert ids[0] == 10


def test_rocchio_rejects_unknown_feedback_ids(spark):
    from search_engine_spark.operators.similarity import rocchio_cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match=r"unknown feedback ids \[999999\]"):
        rocchio_cosine_topk(emb, 0, rel_ids=[1, 999_999])
    with pytest.raises(ValueError, match=r"\[7\]"):
        rocchio_cosine_topk(emb, 0, rel_ids=[1], nonrel_ids=[2, 7])


def test_embedding_diversity_identity_vs_brute_pairs(spark):
    import itertools
    import math

    from search_engine_spark.operators.similarity import (
        _py_cos,
        embedding_diversity,
    )

    rows = [
        (i, [float((i * 7 + d * 3) % 5) + 1.0 for d in range(4)])
        for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_diversity(emb).first()
    vecs = [v for _, v in rows]
    pairs = [
        _py_cos(a, b) for a, b in itertools.combinations(vecs, 2)
    ]
    want = sum(pairs) * 2 / (len(vecs) * (len(vecs) - 1))
    assert got["n"] == 6
    assert math.isclose(got["mean_pairwise_cos"], want, abs_tol=1e-6)


def test_diversity_by_group_matches_per_group_global(spark):
    from pyspark.sql import functions as F
    from search_engine_spark.operators.similarity import (
        diversity_by_group,
        embedding_diversity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    per = {
        r["label"]: (r["n"], r["mean_pairwise_cos"])
        for r in diversity_by_group(emb, "label").collect()
    }
    some = sorted(per)[:2]
    for lab in some:
        single = embedding_diversity(
            emb.filter(F.col("label") == lab)
        ).first()
        assert per[lab] == (single["n"], single["mean_pairwise_cos"]), lab


def test_ivf_filtered_probe_respects_label_and_recall(spark, tmp_path):
    from pyspark.sql import functions as F
    from search_engine_spark.operators.similarity import (
        build_ivf_index,
        filtered_cosine_topk,
        ivf_index_topk,
        load_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    idx = load_ivf_index(spark, path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = ivf_index_topk(spark, idx, q, query_vec_id=0, label=1, k=10).collect()
    labels = {
        r["label"]
        for r in emb.join(
            spark.createDataFrame([(x["vec_id"],) for x in got], "vec_id long"),
            "vec_id",
        ).collect()
    }
    assert labels == {1}
    # recall vs the exact filtered path: every ANN hit that IS in the
    # probed cells scores identically to the exact oracle
    exact = {
        r["vec_id"]: r["cos"]
        for r in filtered_cosine_topk(emb, 0, label=1, k=1000).collect()
    }
    for r in got:
        assert exact[r["vec_id"]] == r["cos"]


def test_diversity_empty_input_raises_clear_error(spark):
    import pytest
    from search_engine_spark.operators.similarity import (
        diversity_by_group,
        embedding_diversity,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, label string, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty embeddings"):
        embedding_diversity(empty)
    with pytest.raises(ValueError, match="empty embeddings"):
        diversity_by_group(empty)


def _ball(base, n, start_id, eps=0.0005):
    """n near-identical unit-ish vectors around `base` (tiny per-id
    perturbation in one coordinate keeps them distinct but >0.999
    cosine apart)."""
    rows = []
    for i in range(n):
        v = list(base)
        v[0] = v[0] + eps * (i % 7)
        rows.append((start_id + i, [float(x) for x in v]))
    return rows


def test_semdedup_guard_noop_matches_unguarded(spark):
    # normal data: no cell exceeds max_cell, guarded output must be
    # byte-identical to the unguarded path
    from search_engine_spark.operators.similarity import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    guarded = {
        (r.vec_id, r.keep_id)
        for r in semdedup(emb, k=4, iters=1, threshold=0.4).collect()
    }
    unguarded = {
        (r.vec_id, r.keep_id)
        for r in semdedup(
            emb, k=4, iters=1, threshold=0.4, max_cell=None
        ).collect()
    }
    assert guarded == unguarded


def test_semdedup_tight_giant_cell_shortcut_is_exact(spark):
    # one giant near-dup ball (all pairwise cosines ~1 >> threshold):
    # the guard's star-edge shortcut must produce the same single
    # group as the unguarded quadratic enumeration
    from search_engine_spark.operators.similarity import semdedup

    dim = 8
    rows = _ball([1.0] + [0.1] * (dim - 1), 30, 0)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(k=1, iters=1, threshold=0.95)
    guarded = {
        (r.vec_id, r.keep_id)
        for r in semdedup(emb, max_cell=10, **kw).collect()
    }
    unguarded = {
        (r.vec_id, r.keep_id)
        for r in semdedup(emb, max_cell=None, **kw).collect()
    }
    assert guarded == unguarded
    assert {kid for _, kid in guarded} == {0}


def test_semdedup_loose_giant_cell_recursion_matches(spark):
    # two well-separated near-dup balls forced into ONE oversized cell
    # (k=1): the cell is loose, so the guard recurses; with k=1 the
    # subset cannot split, so it falls back to the exact quadratic
    # block -- output must equal unguarded
    from search_engine_spark.operators.similarity import semdedup

    dim = 8
    rows = _ball([1.0] + [0.0] * (dim - 1), 12, 0) + _ball(
        [0.0, 1.0] + [0.0] * (dim - 2), 12, 100
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(k=1, iters=1, threshold=0.95)
    guarded = {
        (r.vec_id, r.keep_id)
        for r in semdedup(emb, max_cell=10, **kw).collect()
    }
    unguarded = {
        (r.vec_id, r.keep_id)
        for r in semdedup(emb, max_cell=None, **kw).collect()
    }
    assert guarded == unguarded
    assert {kid for _, kid in guarded} == {0, 100}


def test_semdedup_loose_giant_cell_recursive_split(spark):
    # k=2 top level: if the two balls land in one oversized loose
    # cell the recursion re-clusters and finds both groups; either
    # way the groups must be the two balls
    from search_engine_spark.operators.similarity import semdedup

    dim = 8
    rows = _ball([1.0] + [0.0] * (dim - 1), 15, 0) + _ball(
        [0.0, 1.0] + [0.0] * (dim - 2), 15, 100
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r.vec_id, r.keep_id)
        for r in semdedup(
            emb, k=2, iters=1, threshold=0.95, max_cell=10
        ).collect()
    }
    assert {kid for _, kid in out} == {0, 100}
    assert all(kid == (0 if vid < 100 else 100) for vid, kid in out)


def test_lsh_incremental_add_delete_equals_fresh_build(spark, tmp_path):
    # build over half the corpus, epoch-append the other half, then
    # tombstone a slice: every probe must equal a fresh full build
    # over exactly the live set
    from search_engine_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    incr = str(tmp_path / "incr")
    sim.build_lsh_index(base, incr)
    sim.lsh_index_add(batch, incr)

    fresh = str(tmp_path / "fresh")
    sim.build_lsh_index(emb, fresh)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    a = sim.lsh_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    b = sim.lsh_index_topk(spark, fresh, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    # delete: tombstoned ids vanish from probes; equals a fresh build
    # over the live subset
    dead = [int(r["vec_id"]) for r in emb.filter(F.col("vec_id") % 7 == 0).collect()]
    sim.lsh_index_delete(spark, incr, dead)
    live = emb.filter(F.col("vec_id") % 7 != 0)
    fresh2 = str(tmp_path / "fresh2")
    sim.build_lsh_index(live, fresh2)
    a2 = sim.lsh_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    b2 = sim.lsh_index_topk(spark, fresh2, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a2] == [tuple(r) for r in b2]
    assert not {r["vec_id"] for r in a2} & set(dead)

    # compact: drops tombstones physically, probes unchanged
    sim.lsh_index_compact(spark, incr)
    import os

    assert not os.path.exists(f"{incr}/_tombstones")
    a3 = sim.lsh_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a3] == [tuple(r) for r in a2]


def test_ivf_incremental_add_delete_equals_frozen_seed_build(spark, tmp_path):
    from search_engine_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    incr = str(tmp_path / "incr")
    sim.build_ivf_index(base, incr)
    frozen = [
        (int(r["cell"]), [float(x) for x in r["seed"]])
        for r in spark.read.parquet(f"{incr}/seeds").collect()
    ]
    sim.ivf_index_add(batch, incr)

    fresh = str(tmp_path / "fresh")
    sim.build_ivf_index(emb, fresh, seeds=frozen)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    a = sim.ivf_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    b = sim.ivf_index_topk(spark, fresh, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    dead = [int(r["vec_id"]) for r in emb.filter(F.col("vec_id") % 7 == 0).collect()]
    sim.ivf_index_delete(spark, incr, dead)
    fresh2 = str(tmp_path / "fresh2")
    sim.build_ivf_index(emb.filter(F.col("vec_id") % 7 != 0), fresh2, seeds=frozen)
    a2 = sim.ivf_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    b2 = sim.ivf_index_topk(spark, fresh2, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a2] == [tuple(r) for r in b2]
    assert not {r["vec_id"] for r in a2} & set(dead)


def test_pq_incremental_add_delete_equals_frozen_codebook_build(spark, tmp_path):
    from search_engine_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    incr = str(tmp_path / "incr")
    sim.build_pq_index(base, incr, m=8, ks=16, iters=2)
    frozen = sim._read_pq_books(spark, incr)
    sim.pq_index_add(batch, incr)

    fresh = str(tmp_path / "fresh")
    sim.build_pq_index(emb, fresh, codebooks=frozen)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    a = sim.pq_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    b = sim.pq_index_topk(spark, fresh, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    # codebooks survive the parquet round-trip value-exactly, so the
    # appended batch's codes match an inline encode with the originals
    inline = {
        (r["vec_id"], tuple(r["codes"]))
        for r in sim.pq_encode(batch, frozen).collect()
    }
    stored = {
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{incr}/codes")
        .join(batch.select("vec_id"), "vec_id", "left_semi")
        .collect()
    }
    assert inline == stored

    dead = [int(r["vec_id"]) for r in emb.filter(F.col("vec_id") % 7 == 0).collect()]
    sim.pq_index_delete(spark, incr, dead)
    fresh2 = str(tmp_path / "fresh2")
    sim.build_pq_index(
        emb.filter(F.col("vec_id") % 7 != 0), fresh2, codebooks=frozen
    )
    a2 = sim.pq_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    b2 = sim.pq_index_topk(spark, fresh2, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a2] == [tuple(r) for r in b2]
    assert not {r["vec_id"] for r in a2} & set(dead)

    # compact: tombstones physically gone, probes unchanged
    sim.pq_index_compact(spark, incr)
    import os

    assert not os.path.exists(f"{incr}/_tombstones")
    a3 = sim.pq_index_topk(spark, incr, qvec, query_vec_id=1).collect()
    assert [tuple(r) for r in a3] == [tuple(r) for r in a2]
