"""Result diversification: Maximal Marginal Relevance re-ranking.

MMR (Carbonell & Goldstein 1998) post-processes a retrieval candidate
list so the final top-k balances relevance against novelty: pick_i =
argmax_d λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s). It is the standard
fix for a results page whose top ten are ten near-identical documents
— which a dedup-free web corpus guarantees for head queries.

Architecture note (the 100 TB shape): MMR is inherently sequential in
k, so the DISTRIBUTED part is candidate generation and the pairwise
similarity matrix — the greedy loop itself runs over ≤ n_candidates
scalars. Candidate retrieval is the same broadcast-join/isin-pruned
BM25 plan as `query.search`; candidate token sets come from a
doc_id-isin-PRUNED scan of the docs relation (never a postings scan by
doc_id); the n(n−1)/2 Jaccard pairs for n≈20-100 candidates are one
tiny self-join job. What crosses the driver barrier is n (id, score)
rows plus the pair list — the same k-scalar barrier class as the
Lloyd/BPE/GD loops, and orders of magnitude below any collect that
would worry at scale.

Determinism contract (shared with the DuckDB oracle in
__spark_entry__._mmr_sql): relevance and Jaccard are 6dp-rounded
before the greedy loop, each step's objective is 6dp-rounded before
the argmax, and ties break doc_id ASC — the whole trajectory replays
exactly outside Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from search_engine_spark.numerics import round_half_up
from search_engine_spark.operators.index_build import (
    InvertedIndex,
    raw_postings_from_docs,
)
from search_engine_spark.operators.query import (
    _bm25,
    _matched,
    _query_terms,
    _rank_cut,
    _sorted,
)

_PICKS = "rank int, doc_id long, score double"


def candidate_jaccard_pairs(
    docs: DataFrame,
    doc_ids: list[int],
    tokenizer=None,
    round_dp: int = 6,
) -> DataFrame:
    """(doc_a, doc_b, jac): exact distinct-token Jaccard between every
    pair of the given candidate docs (doc_a < doc_b; zero-overlap pairs
    are absent). The doc_id isin predicate reaches the docs scan, so
    the job touches |candidates| documents, not the corpus."""
    toks = (
        raw_postings_from_docs(
            docs.filter(F.col("doc_id").isin(doc_ids)), tokenizer
        )
        .filter(F.col("term").isNotNull())
        .select("doc_id", "term")
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("doc_id").alias("doc_a"), "term")
    b = toks.select(F.col("doc_id").alias("doc_b"), "term")
    common = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sa")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sb")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common")
                / (F.col("sa") + F.col("sb") - F.col("common")),
                round_dp,
            ).alias("jac"),
        )
    )


def mmr_rerank(
    index: InvertedIndex,
    docs: DataFrame,
    query_terms: list[str],
    tokenizer=None,
    n_candidates: int = 20,
    k: int = 10,
    lam: float = 0.7,
    round_dp: int = 6,
) -> DataFrame:
    """(rank, doc_id, score): MMR-diversified top-k. `score` is the
    6dp-rounded MMR objective at the step the doc was selected (the
    first pick's objective is λ·rel — no penalty term yet), so the
    column is monotone-decreasing evidence of the greedy trajectory,
    not a relevance score.
    """
    spark = docs.sparkSession
    qt, terms = _query_terms(spark, query_terms, tokenized=True)
    if not terms:
        return spark.createDataFrame([], _PICKS)
    cand_rows = (
        _bm25(_matched(index, qt, terms), round_dp, score="rel")
        .orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .limit(n_candidates)
        .collect()
    )
    rel = {int(r["doc_id"]): float(r["rel"]) for r in cand_rows}
    sim: dict[tuple[int, int], float] = {}
    if len(rel) > 1:
        for r in candidate_jaccard_pairs(
            docs, list(rel), tokenizer, round_dp
        ).collect():
            sim[(int(r["doc_a"]), int(r["doc_b"]))] = float(r["jac"])

    def _sim(x: int, y: int) -> float:
        return sim.get((min(x, y), max(x, y)), 0.0)

    picked: list[tuple[int, int, float]] = []  # (rank, doc_id, objective)
    remaining = set(rel)
    while remaining and len(picked) < k:
        best = None
        for d in sorted(remaining):  # doc_id ASC = deterministic tie-break
            pen = max((_sim(d, p) for _, p, _ in picked), default=0.0)
            obj = round_half_up(lam * rel[d] - (1.0 - lam) * pen, round_dp)
            if best is None or obj > best[1]:
                best = (d, obj)
        picked.append((len(picked) + 1, best[0], best[1]))
        remaining.discard(best[0])
    return spark.createDataFrame(picked, _PICKS)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """(doc_id, rrf) — Reciprocal Rank Fusion (Cormack, Clarke &
    Büttcher, SIGIR 2009): rrf(d) = Σ_lists 1/(c + rank_list(d)), the
    standard score-free way to combine a sparse (BM25) and a dense
    (embedding-cosine) retriever into one hybrid result. Rank-based
    fusion needs no score calibration between retrievers, which is why
    it is the default hybrid in modern search stacks.

    Each input carries (id_col, score); ranks are row_numbers under the
    engine's canonical tie-break (score DESC, id ASC — quirk Q7), so
    inputs must arrive score-rounded (every engine top-k already is).

    Scale shape: fusion runs over CANDIDATE LISTS (each retriever's
    top-n), never the corpus — each rank window spans ≤ n rows and the
    union/agg moves ≤ Σn (id, double) rows. The expensive part of
    hybrid search is the two retrievals, which keep their own
    distributed plans; fusion adds no corpus-sized stage.

    Determinism contract (shared with the DuckDB oracle): per-list
    contributions are summed via per-list conditional aggregates added
    LEFT-TO-RIGHT in list order — a fixed f64 fold, immune to shuffle
    order — then rounded to `round_dp` before the final tie-broken cut.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    from pyspark.sql import Window

    parts = []
    for i, r in enumerate(rankings):
        w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
        parts.append(
            r.select(
                F.col(id_col),
                F.lit(i).alias("src"),
                (F.lit(1.0) / (F.lit(float(c)) + F.row_number().over(w))).alias(
                    "w"
                ),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = u.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("src") == i, F.col("w"))).alias(f"_w{i}")
            for i in range(len(rankings))
        ]
    )
    total = F.coalesce(F.col("_w0"), F.lit(0.0))
    for i in range(1, len(rankings)):
        total = total + F.coalesce(F.col(f"_w{i}"), F.lit(0.0))
    return (
        agg.select(F.col(id_col), F.round(total, round_dp).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def collapse_hosts(
    run: DataFrame,
    dims: DataFrame,
    key: str = "source",
    max_per_key: int = 2,
    k: int = 10,
) -> DataFrame:
    """(query_id, doc_id, score, <key>): host crowding / site collapse —
    at most `max_per_key` results per host survive per query, then the
    page is cut to k. The standard SERP diversity rule (a dedup-free
    web corpus puts ten pages of one mirror in any head query's top
    ten; MMR fixes content redundancy, this fixes SOURCE redundancy,
    and real engines apply both).

    One broadcast-ish dim join (doc → host; AQE decides, the dim is a
    projection of the docs relation) + two rank windows SHARING the
    query_id partitioning — the (query_id, host) inner rank is a
    narrow re-sort within the same shuffle's partitions, so collapsing
    costs no extra exchange over plain topk. Candidates enter as a
    per-query top-N run (N ≥ k·max hosts you expect to crowd), never
    the corpus.
    """
    d = dims.select("doc_id", F.col(key).alias("_host"))
    g = run.select("query_id", "doc_id", "score").join(d, "doc_id")
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    per_host = _rank_cut(g, max_per_key, ["query_id", "_host"], *order)
    top = _rank_cut(per_host, k, ["query_id"], *order).select(
        "query_id", "doc_id", "score", F.col("_host").alias(key)
    )
    return _sorted(top, "query_id", *order)
