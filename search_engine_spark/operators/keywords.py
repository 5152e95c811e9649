"""Per-document keyword extraction: TextRank over co-occurrence graphs.

TextRank (Mihalcea & Tarau 2004) ranks a document's words by PageRank
over its word co-occurrence graph — the classic unsupervised keyword
extractor, and the per-document complement to the corpus-level link
graph in operators/graph.py.

The Spark-first formulation is the point: instead of looping documents
(a driver-side loop, or a per-doc UDF that re-implements PageRank in
Python), ALL documents' graphs iterate JOINTLY — nodes are
(doc_id, term) pairs, edges carry doc_id, and one power-iteration
round for the whole corpus is one join + one aggregation keyed by
(doc_id, term). Cost per round is independent of the number of
documents beyond the data size itself, there is no per-doc task
overhead, and skew is bounded by the largest single document. Edge
construction is one window pass (`lead` over doc-ordered positions,
the BPE trainer's pair-count trick) — no positional self-join.

Per TextRank's formulation there is no dangling-mass term: the
co-occurrence graph is symmetric, so every node with an edge has
out-weight, and isolated nodes (single-token docs) just keep the
(1-damping) floor. Scores use the paper's (1-d) + d·Σ form (not the
(1-d)/n PageRank normalization), fixed iteration count so the oracle
unrolls the same trajectory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from search_engine_spark.operators.query import _rank_cut

__all__ = ["cooccurrence_edges", "textrank_keywords"]


def _positioned_tokens(documents: DataFrame, tokenizer=None) -> DataFrame:
    from search_engine_spark.operators.text_analytics import ws_tokens

    tok = tokenizer or ws_tokens
    return documents.select(
        "doc_id", F.posexplode(tok(col("text"))).alias("pos", "term")
    )


def cooccurrence_edges(
    documents: DataFrame, window: int = 2, tokenizer=None
) -> DataFrame:
    """(doc_id, src, dst, w): symmetric weighted co-occurrence edges —
    two tokens are linked iff they appear within `window` positions,
    w = the number of such co-occurrences. One sort per doc (the lead
    window), no positional self-join."""
    toks = _positioned_tokens(documents, tokenizer)
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    with_leads = toks.select(
        "doc_id",
        "term",
        *[F.lead("term", d).over(wspec).alias(f"_l{d}") for d in range(1, window + 1)],
    )
    pairs = None
    for d in range(1, window + 1):
        p = with_leads.filter(
            col(f"_l{d}").isNotNull() & (col("term") != col(f"_l{d}"))
        ).select("doc_id", col("term").alias("a"), col(f"_l{d}").alias("b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    undirected = pairs.groupBy(
        "doc_id",
        F.least("a", "b").alias("ta"),
        F.greatest("a", "b").alias("tb"),
    ).agg(F.count(F.lit(1)).alias("w"))
    return undirected.select(
        "doc_id", col("ta").alias("src"), col("tb").alias("dst"), "w"
    ).unionByName(
        undirected.select(
            "doc_id", col("tb").alias("src"), col("ta").alias("dst"), "w"
        )
    )


def textrank_keywords(
    documents: DataFrame,
    k: int = 3,
    window: int = 2,
    iters: int = 5,
    damping: float = 0.85,
    tokenizer=None,
    round_dp: int = 6,
) -> DataFrame:
    """(doc_id, term, score): each document's top-k TextRank keywords,
    score 6dp-rounded BEFORE the per-doc rank cut (ties → term ASC) so
    the cut replays exactly in the oracle.

    WS_{t+1}(v) = (1-d) + d·Σ_{u∈adj(v)} (w_uv / Σ_x w_ux)·WS_t(u),
    run `iters` rounds jointly for every document (see module doc).
    Each round reads the previous scores once, so per-round
    localCheckpoint keeps the plan linear in iters, same as
    graph.pagerank.
    """
    toks = _positioned_tokens(documents, tokenizer)
    nodes = toks.select("doc_id", "term").distinct().persist()
    edges = cooccurrence_edges(documents, window, tokenizer)
    wdeg = edges.groupBy("doc_id", "src").agg(F.sum("w").alias("wd"))
    e = (
        edges.join(wdeg, ["doc_id", "src"])
        .repartition("doc_id", "src")
        .persist()
    )
    ws = nodes.select("doc_id", "term", lit(1.0).alias("ws"))
    for _ in range(iters):
        contrib = (
            e.join(
                ws.select("doc_id", col("term").alias("src"), "ws"),
                ["doc_id", "src"],
            )
            .groupBy("doc_id", "dst")
            .agg(F.sum(col("ws") * col("w") / col("wd")).alias("contrib"))
            .select("doc_id", col("dst").alias("term"), "contrib")
        )
        ws = (
            nodes.join(contrib, ["doc_id", "term"], "left")
            .select(
                "doc_id",
                "term",
                (
                    lit(1.0 - damping)
                    + lit(damping) * F.coalesce(col("contrib"), lit(0.0))
                ).alias("ws"),
            )
            .localCheckpoint(eager=True)
        )
    ranked = ws.select(
        "doc_id", "term", F.round("ws", round_dp).alias("score")
    )
    order = (col("score").desc(), col("term").asc())
    out = _rank_cut(ranked, k, ["doc_id"], *order).orderBy("doc_id", *order)
    e.unpersist()
    nodes.unpersist()
    return out
