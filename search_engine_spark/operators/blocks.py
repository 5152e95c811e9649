"""Block-structured compressed posting index + block-max pruned top-k.

Layout: DOCUMENT-partitioned (the way production search clusters shard):
`bucket = pmod(xxhash64(doc_id), num_buckets)`. Every posting of a doc
lands in one bucket, so a bucket can compute COMPLETE scores for its
docs locally and per-bucket top-k heaps merge into the exact global
top-k (TakeOrdered semantics). Consequences at 10^12-doc scale:

- head-term skew is structurally gone: a term with 10^10 postings
  spreads uniformly over buckets (no salting dance needed — the salted
  term-partitioned alternative from SURVEY §7.5 survives in
  index_build.write_index for the dictionary-seek row path);
- queries fan out to all buckets (classic doc-sharded serving), each
  bucket doing O(postings of query terms in bucket) work;
- bucket count = shuffle parallelism knob; set ≈ 2-3× cluster cores.

Within a bucket, per term: doc_ids sorted, chunked into BLOCK_SIZE
blocks, delta+varbyte encoded (compression.py); per-posting BM25
contributions (bm25_idf·tf_norm, f32) stored alongside; per-block
max_score powers the pruned search.

Pruned search = threshold-algorithm (TA) style, EXACT (property-tested
equal to exhaustive): decode doc ids of all candidate blocks (cheap),
compute per-doc upper bounds from block max_scores, exact-score docs in
ub order (lazily decoding score bytes per block) until the running kth
exact score ≥ the next upper bound, then stop — remaining docs cannot
enter the top-k. Savings = score-byte decode + scoring skipped for
low-ub docs/blocks.

Reference analog: none — the reference scores every posting of every
matched term (app/main.py:58-73). This is the engine's novel serving
path (SURVEY §4.2.2), expressed as applyInPandas over buckets.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import tokenize_query
from search_engine_spark.operators.compression import (
    BLOCK_SIZE,
    encode_block,
    varbyte_decode,
    varbyte_encode,
)
from search_engine_spark.operators.index_build import InvertedIndex
from search_engine_spark.operators.query import _f64, topk

BLOCKS_SCHEMA = (
    "bucket int, term string, block_id int, n int, min_doc long, "
    "max_doc long, max_score double, doc_bytes binary, tf_bytes binary, "
    "score_bytes binary, score_width int, pr_bytes binary"
)


def build_block_index(
    index: InvertedIndex,
    num_buckets: int | None = None,
    block_size: int = BLOCK_SIZE,
    term_groups: int = 16,
    score_dtype: str = "float32",
    prior: DataFrame | None = None,
) -> DataFrame:
    """postings (+bm25_idf) → doc-bucketed compressed blocks.

    One shuffle: repartition by bucket; applyInPandas groups by
    (bucket, term_group) where term_group = hash(term) % term_groups.
    Grouping by (bucket, term) directly would bound memory tightest but
    pays per-group python/Arrow overhead on |vocab|·buckets tiny groups
    (measured: dominated a 24 s build at bench scale); the term_group
    coarsening cuts group count to buckets·term_groups while keeping
    executor memory bounded by |postings|/(buckets·term_groups) — both
    knobs scale out for a 10^12-doc corpus. Per-term work happens in a
    vectorized pandas groupby inside the group.

    `prior` (doc_id, prior double) bakes a query-independent static
    score — PageRank, quality, freshness — into the layout: each
    block stores its docs' prior values (f64, aligned with the doc-id
    order), and block_search's upper bounds and exact scores add
    prior_weight·prior_d, so the TA pruning stays EXACT for the fused
    ranking score = BM25 + w·prior (property-tested equal to the row
    path). Docs absent from `prior` get 0.
    """
    spark = index.postings.sparkSession
    nb = num_buckets or spark.sparkContext.defaultParallelism * 2
    # score_dtype: 'float32' (default — halves score bytes; the pruned
    # search stays exact w.r.t. the stored f32 contributions) or
    # 'float64' (bit-exact vs the f64 row-postings scorer and the SQL
    # oracle — the block_engine_bm25 driver entry verifies this config
    # against the shared BM25 SQL).
    f64 = score_dtype == "float64"

    scored = (
        index.postings.join(index.term_stats.select("term", "bm25_idf"), "term")
        .withColumn(
            "score",
            (F.col("bm25_idf") * F.col("tf_norm")).cast("double" if f64 else "float"),
        )
        .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int"))
        .withColumn("tg", F.pmod(F.xxhash64("term"), F.lit(term_groups)).cast("int"))
        .select("bucket", "tg", "term", "doc_id", "tf", "score")
    )
    return _layout_blocks(scored, nb, term_groups, block_size, f64, prior)


def _layout_blocks(
    scored: DataFrame,
    nb: int,
    term_groups: int,
    block_size: int,
    f64: bool,
    prior: DataFrame | None,
) -> DataFrame:
    """Shared layout tail: (bucket, tg, term, doc_id, tf, score) rows →
    compressed block rows. Scorer-agnostic — any ranking whose total is
    a SUM of non-negative per-(term, doc) contributions (BM25, BM25F,
    BM25+static-prior) can feed it and block_search's TA pruning stays
    exact, because per-block max_score is then a valid per-term upper
    bound."""
    np_dtype = np.float64 if f64 else np.float32
    width = 8 if f64 else 4
    has_prior = prior is not None
    if has_prior:
        scored = scored.join(
            prior.select("doc_id", F.col("prior").cast("double")), "doc_id", "left"
        ).withColumn("prior", F.coalesce(F.col("prior"), F.lit(0.0)))

    def make_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        out = []
        for term, g in pdf.sort_values(["term", "doc_id"]).groupby("term", sort=False):
            docs = g["doc_id"].to_numpy(np.int64)
            tfs = g["tf"].to_numpy(np.int64)
            scores = g["score"].to_numpy(np_dtype)
            priors = g["prior"].to_numpy(np.float64) if has_prior else None
            for bid, s in enumerate(range(0, len(docs), block_size)):
                d, t, sc = (
                    docs[s : s + block_size],
                    tfs[s : s + block_size],
                    scores[s : s + block_size],
                )
                doc_bytes, tf_bytes = encode_block(d, t)
                pr_bytes = (
                    priors[s : s + block_size].tobytes() if has_prior else None
                )
                out.append(
                    (
                        bucket, term, bid, len(d), int(d[0]), int(d[-1]),
                        float(sc.max()), doc_bytes, tf_bytes, sc.tobytes(),
                        width, pr_bytes,
                    )
                )
        return pd.DataFrame(
            out,
            columns=[
                "bucket", "term", "block_id", "n", "min_doc", "max_doc",
                "max_score", "doc_bytes", "tf_bytes", "score_bytes",
                "score_width", "pr_bytes",
            ],
        )

    return (
        scored.repartition(nb, "bucket")
        .groupBy("bucket", "tg")
        .applyInPandas(make_blocks, BLOCKS_SCHEMA)
    )


def write_block_index(blocks: DataFrame, path: str) -> None:
    """Persist partitioned by bucket → query-time scans are one file
    group per bucket; term predicate prunes row groups within."""
    blocks.write.mode("overwrite").partitionBy("bucket").parquet(path)


# ---------------------------------------------------------------------------
# serving path
# ---------------------------------------------------------------------------

def _decode_docs_bytes(b: bytes) -> np.ndarray:
    deltas = varbyte_decode(b)
    if deltas.size == 0:
        return np.zeros(0, dtype=np.int64)
    z = deltas[0]
    first = np.int64(z >> np.uint64(1)) ^ -np.int64(z & np.uint64(1))
    docs = np.empty(deltas.shape, dtype=np.int64)
    docs[0] = first
    if deltas.size > 1:
        docs[1:] = deltas[1:].astype(np.int64)
        np.cumsum(docs, out=docs)
    return docs


def _bucket_topk(
    pdf: pd.DataFrame,
    query_terms: dict[int, list[str]],
    k: int,
    prune: bool,
    prior_weight: float | dict[int, float] = 1.0,
) -> pd.DataFrame:
    """Exact local top-k for every query over one bucket's blocks.

    If the blocks carry pr_bytes (static prior, see build_block_index),
    every doc's upper bound AND exact score include
    prior_weight·prior_d — the bound stays exact because the prior is
    decoded alongside the doc ids in phase 1 (an np.frombuffer, no
    varbyte work), so pruning never sees an underestimate."""
    out_q, out_d, out_s = [], [], []
    by_term: dict[str, list] = {}
    for row in pdf.itertuples(index=False):
        by_term.setdefault(row.term, []).append(row)

    # per-BUCKET decode caches: in a multi-query batch the same term's
    # blocks serve every query that mentions the term — decode doc ids
    # (and lazily, score bytes) once per block, not once per (query,
    # block). At 100 batched queries over a shared vocabulary this is
    # the difference between O(blocks) and O(queries·blocks) decodes.
    doc_cache: dict[int, np.ndarray] = {}
    score_cache: dict[int, np.ndarray] = {}

    def docs_of(r) -> np.ndarray:
        key = id(r)
        d = doc_cache.get(key)
        if d is None:
            d = doc_cache[key] = _decode_docs_bytes(bytes(r.doc_bytes))
        return d

    def scores_of(r) -> np.ndarray:
        key = id(r)
        s = score_cache.get(key)
        if s is None:
            dt = np.float64 if getattr(r, "score_width", 4) == 8 else np.float32
            s = score_cache[key] = np.frombuffer(
                bytes(r.score_bytes), dtype=dt
            ).astype(np.float64)
        return s

    def priors_of(r):
        b = getattr(r, "pr_bytes", None)
        return None if b is None else np.frombuffer(bytes(b), dtype=np.float64)

    for qid, terms in query_terms.items():
        pw = (
            prior_weight.get(qid, 0.0)
            if isinstance(prior_weight, dict)
            else prior_weight
        )
        rows = [r for t in terms for r in by_term.get(t, [])]
        if not rows:
            continue
        # phase 1: doc ids + upper bounds (score bytes untouched)
        doc_arrays = [docs_of(r) for r in rows]
        all_docs = np.concatenate(doc_arrays)
        ubs = np.concatenate(
            [np.full(len(d), r.max_score, dtype=np.float64) for d, r in zip(doc_arrays, rows)]
        )
        uniq, inv = np.unique(all_docs, return_inverse=True)
        ub = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(ub, inv, ubs)

        # static prior: every prior-carrying block repeats its docs'
        # prior values, so a scatter-assign (not add) yields one prior
        # per unique doc. Scatter ONLY from blocks that carry pr_bytes —
        # in a mixed relation (e.g. prior-less segments appended to a
        # prior index) a zero-filled stand-in could otherwise overwrite
        # a doc's real prior depending on block order.
        pri = None
        pr_arrays = [priors_of(r) for r in rows]
        if any(p is not None for p in pr_arrays):
            pri = np.zeros(len(uniq), dtype=np.float64)
            offset = 0
            for p, d in zip(pr_arrays, doc_arrays):
                if p is not None:
                    pri[inv[offset : offset + len(d)]] = p
                offset += len(d)
            ub += pw * pri

        def exact_scores(doc_sel: np.ndarray) -> np.ndarray:
            """complete scores for the selected doc ids (sorted array)."""
            if pri is not None:
                total = pw * pri[np.searchsorted(uniq, doc_sel)]
            else:
                total = np.zeros(len(doc_sel), dtype=np.float64)
            for r, darr in zip(rows, doc_arrays):
                # find which selected docs are in this block
                pos = np.searchsorted(darr, doc_sel)
                pos_ok = pos < len(darr)
                hit = np.zeros(len(doc_sel), dtype=bool)
                hit[pos_ok] = darr[pos[pos_ok]] == doc_sel[pos_ok]
                if not hit.any():
                    continue
                total[hit] += scores_of(r)[pos[hit]]
            return total

        if not prune or len(uniq) <= 2 * k:
            scores = exact_scores(uniq)
            cand_docs, cand_scores = uniq, scores
        else:
            # TA loop: exact-score docs in descending-ub order until the
            # kth exact score dominates the next upper bound
            order = np.argsort(-ub, kind="stable")
            m = max(4 * k, 64)
            done = 0
            kept_docs: list[np.ndarray] = []
            kept_scores: list[np.ndarray] = []
            kth = -np.inf
            while done < len(order):
                sel_idx = order[done : done + m]
                sel_docs = uniq[sel_idx]
                s_order = np.argsort(sel_docs)
                sc = exact_scores(sel_docs[s_order])
                kept_docs.append(sel_docs[s_order])
                kept_scores.append(sc)
                done += len(sel_idx)
                allsc = np.concatenate(kept_scores)
                if len(allsc) >= k:
                    kth = np.partition(allsc, -k)[-k]
                if done < len(order) and kth > ub[order[done]]:
                    break
                m *= 2
            cand_docs = np.concatenate(kept_docs)
            cand_scores = np.concatenate(kept_scores)

        top = min(k, len(cand_docs))
        sel = np.lexsort((cand_docs, -cand_scores))[:top]
        out_q.extend([qid] * top)
        out_d.extend(cand_docs[sel].tolist())
        out_s.extend(cand_scores[sel].tolist())

    return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})


def block_search(
    blocks: DataFrame,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    k: int = 10,
    prune: bool = True,
    prior_weight: float | str = 1.0,
    round_dp: int | None = None,
) -> DataFrame:
    """Exact top-k from a block index (BM25, BM25F, LM-Dirichlet, or
    prior-fused — whichever contribution family the blocks store).

    prior_weight='nq' weights each doc's stored per-doc value by the
    QUERY's term count — the LM-Dirichlet shape, where the blocks store
    c_td = ln(1 + tf/(μ·p_c)) and the "prior" is g_d = ln(μ/(dl+μ)),
    so score = Σ c_td + nq·g_d (see build_block_index_lm).

    Plan: term-isin-pruned scan of blocks → applyInPandas per bucket
    (local exact top-k via TA pruning) → global WindowGroupLimit merge
    of ≤ k·num_buckets candidate rows. No shuffle of posting data ever:
    the only shuffled rows are the per-bucket top-k candidates.
    """
    if isinstance(queries, list):
        queries = dict(enumerate(queries))
    # order-preserving dedup: a repeated query term must contribute once
    # (ANY-filter semantics, same as queries_to_terms in query.py)
    qterms = {
        qid: list(dict.fromkeys(tokenize_query(q))) for qid, q in queries.items()
    }
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")

    cand = blocks.filter(F.col("term").isin(all_terms))
    pw = (
        {qid: float(len(ts)) for qid, ts in qterms.items()}
        if prior_weight == "nq"
        else prior_weight
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bucket_topk(pdf, qterms, k, prune, pw)

    local = cand.groupBy("bucket").applyInPandas(
        per_bucket, "query_id int, doc_id long, score double"
    )
    # same Q7-tie-break window-limit merge as the row-postings path
    # round BEFORE the final window when comparing against a rounded
    # oracle, so sub-grain score differences tie and break on doc_id
    if round_dp is not None:
        local = local.withColumn("score", F.round(F.col("score"), round_dp))
    return topk(local, k)


def _bm25f_contrib(
    index: InvertedIndex,
    anchor_tf: DataFrame,
    terms: list[str] | None = None,
    w_anchor: float = 2.0,
    b_body: float = 0.75,
    b_anchor: float = 0.5,
    k1: float = 1.2,
) -> DataFrame:
    """(term, doc_id, tf, score): the query-independent per-posting
    BM25F contribution c_td = idf_t · x_td / (k1 + x_td), with
    x_td = Σ_f w_f·tf_tdf/(1 − b_f + b_f·len_df/avglen_f) over the body
    (index postings, w = 1) and anchor fields; `tf` is the combined raw
    field tf. BM25F's total is Σ_t c_td, additive with c_td ≥ 0.

    One groupBy(term, doc_id) merges the two field relations (x sums at
    most 2 rows). With `terms`, both field scans and term_stats are
    isin-pruned (term_stats then broadcast); avglen_anchor is always
    taken over ALL anchors, so pruning never changes a contribution."""
    anchor_len = anchor_tf.groupBy("doc_id").agg(F.sum("tf_anchor").alias("alen"))
    avg_alen = anchor_len.agg(F.avg("alen")).first()[0]
    if avg_alen is None:
        # no anchors at all (edge-less graph): the anchor branch yields
        # zero rows anyway — any non-zero divisor keeps the plan valid
        avg_alen = 1.0
    body, anch = index.postings, anchor_tf
    ts = index.term_stats.select("term", "bm25_idf")
    if terms:
        body, anch, ts = (r.filter(F.col("term").isin(terms)) for r in (body, anch, ts))
        ts = F.broadcast(ts)

    def field(rel, tf, length, avg, b, w=None):
        num = _f64(tf) if w is None else F.lit(w) * _f64(tf)
        norm = F.lit(1.0 - b) + F.lit(b) * _f64(length) / F.lit(float(avg))
        return rel.select(
            "term",
            "doc_id",
            F.col(tf).cast("long").alias("ftf"),
            (num / norm).alias("x"),
        )

    x = F.col("x")
    # body postings carry their own dl; anchors join their lengths
    anch = anch.join(anchor_len, "doc_id")
    return (
        field(body, "tf", "dl", index.avgdl, b_body)
        .unionByName(field(anch, "tf_anchor", "alen", avg_alen, b_anchor, w_anchor))
        .groupBy("term", "doc_id")
        .agg(F.sum("ftf").alias("tf"), F.sum("x").alias("x"))
        .join(ts, "term")
        .select(
            "term",
            "doc_id",
            F.col("tf").cast("int").alias("tf"),
            (F.col("bm25_idf") * x / (F.lit(k1) + x)).alias("score"),
        )
    )


def build_block_index_bm25f(
    index: InvertedIndex,
    anchor_tf: DataFrame,
    num_buckets: int | None = None,
    block_size: int = BLOCK_SIZE,
    term_groups: int = 16,
    score_dtype: str = "float32",
    prior: DataFrame | None = None,
    w_anchor: float = 2.0,
    b_body: float = 0.75,
    b_anchor: float = 0.5,
    k1: float = 1.2,
) -> DataFrame:
    """Block index whose stored per-posting scores are BM25F
    contributions (body + anchor fields) instead of plain BM25 —
    block_search over it returns exact BM25F top-k with the same
    block-max pruning (property-tested equal to query.score_bm25f).
    The scores are `_bm25f_contrib` unpruned (a serving index covers
    every term); score_bm25f sums the same builder's query-term-pruned
    rows. Their total is additive with every c_td ≥ 0, so the
    block-max bound stays exact. Same one-shuffle layout and knobs as
    build_block_index."""
    spark = index.postings.sparkSession
    nb = num_buckets or spark.sparkContext.defaultParallelism * 2
    f64 = score_dtype == "float64"
    contrib = _bm25f_contrib(
        index, anchor_tf, None, w_anchor, b_body, b_anchor, k1
    )
    scored = (
        contrib.withColumn(
            "score", F.col("score").cast("double" if f64 else "float")
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int")
        )
        .withColumn(
            "tg", F.pmod(F.xxhash64("term"), F.lit(term_groups)).cast("int")
        )
        .select("bucket", "tg", "term", "doc_id", "tf", "score")
    )
    return _layout_blocks(scored, nb, term_groups, block_size, f64, prior)


def build_block_index_lm(
    index: InvertedIndex,
    mu: float = 2000.0,
    num_buckets: int | None = None,
    block_size: int = BLOCK_SIZE,
    term_groups: int = 16,
) -> DataFrame:
    """Block index for LM-Dirichlet query likelihood (Zhai & Lafferty
    2001, the matched-terms decomposition query.score_lm_dirichlet
    serves row-wise):

        score(q,d) = Σ_{t∈q∩d} ln(1 + tf_td/(μ·p(t|C))) + |q|·ln(μ/(dl_d+μ))

    Both pieces are query-independent at a fixed μ: the matched-term
    contribution is stored as the block score (non-negative, additive —
    the TA-pruning form), and the per-doc length penalty g_d =
    ln(μ/(dl_d+μ)) rides the static-prior byte lane, weighted at query
    time by prior_weight='nq' (the query's term count). The per-doc
    piece is EXACT in phase 1, so the pruning bound never underestimates
    even though g_d < 0.

    p(t|C) = cf_t/|C| costs one groupBy(term) over postings at build
    time (the same shuffle budget as the BM25 build's term_stats join);
    f64 scores always — LM contributions are small logs and the row
    path the oracle mirrors is f64.
    """
    spark = index.postings.sparkSession
    nb = num_buckets or spark.sparkContext.defaultParallelism * 2
    # |C| = Σdl from the driver scalars (query._lm_matched does the same)
    total_tokens = round(index.n_docs * index.avgdl)
    cf = index.postings.groupBy("term").agg(F.sum("tf").alias("cf"))
    scored = (
        index.postings.join(cf, "term")
        .select(
            "term",
            "doc_id",
            "tf",
            F.log(
                F.lit(1.0)
                + F.col("tf").cast("double")
                / (
                    F.lit(mu)
                    * F.col("cf").cast("double")
                    / F.lit(float(total_tokens))
                )
            ).alias("score"),
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int")
        )
        .withColumn(
            "tg", F.pmod(F.xxhash64("term"), F.lit(term_groups)).cast("int")
        )
        .select("bucket", "tg", "term", "doc_id", "tf", "score")
    )
    penalty = index.doc_stats.select(
        "doc_id",
        F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu))).alias(
            "prior"
        ),
    )
    return _layout_blocks(scored, nb, term_groups, block_size, True, penalty)
