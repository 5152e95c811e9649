"""Learning to rank: in-engine feature extraction, pointwise training,
and learned re-ranking.

The classic search-quality loop the reference never reaches
(app/main.py serves raw TF-IDF order): extract per-(query, doc)
ranking features from the index, train a pointwise logistic model on
relevance judgments, re-rank candidates by the learned score. All
three stages are expressed over the same relations the serving path
already uses, so the feature values a model trains on are EXACTLY the
values serving computes.

Features (one `_matched` pass + one (query_id, doc_id) hash agg — the
same single-shuffle shape as BM25 scoring; no second scan per feature,
and f_dl is the matched postings' own dl):
  f_bm25  — the BM25 score (6dp-rounded, same grid as serving)
  f_match — matched distinct query terms / |q| (coverage)
  f_tf    — Σ raw tf over matched terms
  f_idf   — max bm25_idf among matched terms (rarest-term signal,
            6dp-rounded: ln() may differ by 1 ulp across libms)
  f_dl    — document length

Training reuses the distributed full-batch-GD shape of
curation.distill_gate: features standardized once (variance clamped),
each step ONE (1 + n_features)-scalar gradient aggregate, weights
rounded to a 9dp grid per step so the whole trajectory replays in the
DuckDB oracle across libms. Candidates without a judgment row train as
negatives (the standard weak-supervision convention for sampled
qrels). The model is deliberately tiny — the point at 100 TB is that
TRAINING DATA EXTRACTION and SCORING are corpus-scale joins, while the
model update is a k-scalar driver barrier, exactly like the
Lloyd/BPE/PageRank loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.index_build import InvertedIndex
from search_engine_spark.operators.query import (
    _bm25,
    _bm25_agg,
    _matched,
    _rank_cut,
    _sorted,
    topk,
)

__all__ = ["FEATURES", "ltr_features", "ltr_train", "ltr_rerank"]

FEATURES = ["f_bm25", "f_match", "f_tf", "f_idf", "f_dl"]


def ltr_features(
    index: InvertedIndex,
    query_terms: DataFrame,
    terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, doc_id, f_bm25, f_match, f_tf, f_idf, f_dl) for every
    OR-candidate (doc matching ≥1 query term) of every query."""
    m = _matched(index, query_terms, terms)
    n_q = query_terms.groupBy("query_id").agg(
        F.count_distinct("term").alias("n_q")
    )
    per = _bm25_agg(
        m,
        F.sum("tf").cast("double").alias("f_tf"),
        F.round(F.max("bm25_idf"), 6).alias("f_idf"),
        F.max("dl").cast("double").alias("f_dl"),
        round_dp=6,
        score="f_bm25",
    )
    return per.join(F.broadcast(n_q), "query_id").select(
        "query_id",
        "doc_id",
        "f_bm25",
        (F.col("n_matched") / F.col("n_q")).alias("f_match"),
        "f_tf",
        "f_idf",
        "f_dl",
    )


def ltr_train(
    features: DataFrame,
    qrels: DataFrame,
    iters: int = 8,
    lr: float = 1.0,
) -> tuple[list[float], DataFrame]:
    """Pointwise logistic LTR by full-batch GD. Returns
    ([b, w_f_bm25, …, w_f_dl], scores df (query_id, doc_id, s, y))
    where s = sigmoid(z) rounded 6dp — the learned relevance score a
    re-ranker sorts by. `qrels` is (query_id, doc_id, rel); candidates
    without a judgment are trained as negatives."""
    labeled = (
        features.join(qrels, ["query_id", "doc_id"], "left")
        .withColumn(
            "y",
            (F.coalesce(F.col("rel"), F.lit(0)) > 0).cast("double"),
        )
        .drop("rel")
    )
    mom = labeled.agg(
        *[
            f(F.col(c)).alias(f"{n}_{c}")
            for c in FEATURES
            for n, f in (("m", F.avg), ("q", lambda x: F.avg(x * x)))
        ]
    ).first()
    xs = []
    for i, c in enumerate(FEATURES, start=1):
        m, qv = float(mom[f"m_{c}"]), float(mom[f"q_{c}"])
        s = max(qv - m * m, 0.0) ** 0.5  # variance clamp, as distill_gate
        if s == 0.0:
            s = 1.0
        xs.append(((F.col(c) - F.lit(m)) / F.lit(s)).alias(f"x{i}"))
    base = labeled.select("query_id", "doc_id", "y", *xs).persist()
    base.count()

    nf = len(FEATURES)
    w = [0.0] * (nf + 1)
    for _ in range(iters):
        z = F.lit(w[0])
        for i in range(1, nf + 1):
            z = z + F.lit(w[i]) * F.col(f"x{i}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        ed = base.select(
            *[f"x{i}" for i in range(1, nf + 1)],
            (p - F.col("y")).alias("e"),
        )
        g = ed.agg(
            F.avg("e").alias("g0"),
            *[
                F.avg(F.col("e") * F.col(f"x{i}")).alias(f"g{i}")
                for i in range(1, nf + 1)
            ],
        ).first()
        w = [
            round(w[j] - lr * float(g[f"g{j}"]), 9)
            for j in range(nf + 1)
        ]
    zf = F.lit(w[0])
    for i in range(1, nf + 1):
        zf = zf + F.lit(w[i]) * F.col(f"x{i}")
    # base stays persisted while the returned scores df (built on it)
    # is live — same contract as curation.distill_gate
    scores = base.select(
        "query_id",
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zf)), 6).alias("s"),
        F.col("y").cast("int").alias("y"),
    )
    return w, scores


def ltr_rerank(scores: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, doc_id, score): per-query top-k by the learned score
    (6dp-rounded BEFORE the cut; Q7 tie-break doc_id ASC)."""
    return topk(
        scores.select("query_id", "doc_id", F.col("s").alias("score")), k
    )


def hard_negatives(
    index: InvertedIndex,
    query_terms: DataFrame,
    qrels: DataFrame,
    k: int = 20,
    n_neg: int = 5,
    terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): the highest-BM25-ranked docs
    per query that are NOT known positives — hard-negative mining, the
    standard way to build contrastive/LTR training pairs from a serving
    index (the retriever's own near-miss top errors are the informative
    negatives).


    `qrels` is (query_id, doc_id) known positives. Plan: the one-agg
    broadcast-matched BM25 (scores rounded before ranking, Q7
    tie-break) → rank ≤ k → broadcast LEFT ANTI join against qrels
    (query-bounded, always small) → first n_neg per query. Both rank
    cuts compile to WindowGroupLimit, so the shuffled payload never
    exceeds k rows per query per partition.
    """
    from pyspark.sql import Window

    scored = _bm25(_matched(index, query_terms, terms), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    neg = ranked.join(
        F.broadcast(qrels.select("query_id", "doc_id")),
        ["query_id", "doc_id"],
        "left_anti",
    )
    return _sorted(_rank_cut(neg, n_neg, ["query_id"], "rank"), "query_id", "rank")
