"""Web link-graph operators: link edges, iterative PageRank, anchor-text
postings, and PageRank-fused BM25 ranking.

The reference (dastarruer/search-engine) ranks purely by query-time
TF-IDF — it extracts links only to drive the crawl frontier
(crawler/src/crawler.rs link loop; our functions/crawl.py:114-124 is
the parity implementation). At web scale a query-independent authority
signal is the other half of a search engine, so this module adds the
canonical one: PageRank over the link graph, plus anchor-text postings
(the linking page's words describing the TARGET page — historically
the highest-precision web ranking feature), and a fused BM25·PageRank
ranker.

Scale shape
-----------
- PageRank is K rounds of (edges ⋈ ranks → groupBy(dst) sum) — TWO
  hash shuffles per round over (long, double) rows, with map-side
  partial aggregation on both. Edges and out-degrees are computed once
  and persisted pre-partitioned by `src`, so the per-round ranks join
  co-locates with a one-sided shuffle of the (8+8)-byte ranks relation
  only. Dangling mass is a one-row aggregate broadcast back — never a
  driver collect in the loop. Each round's ranks are persisted and the
  previous round unpersisted, so the lineage stays one round deep
  (at 10^12 edges you'd localCheckpoint every ~10 rounds; noted, not
  needed at K=10).
- Anchor postings are a single edges ⋈ pages(src) projection +
  explode + groupBy — one shuffle; the anchor text is bounded (first
  `anchor_len` tokens), so the exploded relation is O(edges ·
  anchor_len) regardless of page size.
- The fused ranker reuses the BM25 broadcast-join plan (postings are
  never shuffled; see operators/query.py) and joins the tiny top-side
  rank column AFTER the per-doc aggregate, so PageRank adds one
  equi-join on doc_id to the existing one-shuffle query plan.

The `synthetic_links` generator exists because the driver's
`documents` table carries no link column: it derives a deterministic
pseudo-web from doc_id arithmetic so the DuckDB oracle can recompute
the exact same graph (the real edge source is
functions/crawl.extract_links over crawled HTML).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.text_analytics import ws_tokens

__all__ = [
    "synthetic_links",
    "pagerank",
    "personalized_pagerank",
    "hits",
    "link_components",
    "anchor_postings",
    "fused_bm25_pagerank",
]

#: Edge rule shared verbatim with the DuckDB oracle
#: (__spark_entry__._pagerank_ctes): doc `src` links to
#: (src·EDGE_A + j·EDGE_B + EDGE_C) mod n for j in [0, out_degree),
#: docs with src % DANGLING_MOD == 0 have no out-links (exercises
#: dangling-mass redistribution), self-loops dropped.
EDGE_A, EDGE_B, EDGE_C = 131, 7919, 17
DANGLING_MOD = 17


def synthetic_links(
    documents: DataFrame, n: int, out_degree: int = 4
) -> DataFrame:
    """Deterministic (src, dst) edge table over doc_ids [0, n).

    dropDuplicates guards the rare n for which two j-offsets collide
    mod n (never at the driver's scale factors); it is a shuffle the
    real crawl-derived edge path does not pay.
    """
    j = F.explode(F.sequence(F.lit(0), F.lit(out_degree - 1))).alias("j")
    src = F.col("doc_id").alias("src")
    e = (
        documents.select("doc_id")
        .filter(F.col("doc_id") % DANGLING_MOD != 0)
        .select(src, j)
        .select(
            "src",
            ((F.col("src") * EDGE_A + F.col("j") * EDGE_B + EDGE_C) % n).alias(
                "dst"
            ),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return e.dropDuplicates(["src", "dst"])


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n: int,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(doc_id, pr) after `iters` power-iteration rounds.

    pr_{t+1}(v) = (1-d)/n + d·(Σ_{u→v} pr_t(u)/out(u) + dangling_t/n)

    Fixed iteration count (not convergence-tested) so the oracle can
    unroll the same rounds; Σ pr = 1 at every round (asserted in
    tests/test_graph.py). `n` is passed in (one driver-side count at
    the call site) so the loop itself runs zero driver actions beyond
    the per-round persist materialization.
    """
    nodes = nodes.select("doc_id")
    # deg is persisted in its own right: the per-round dangling-mass
    # anti-join reads it directly, and without the persist every round
    # would re-aggregate the raw edge relation
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out")).persist()
    # edges+deg resolved once, pre-partitioned by src for the per-round join
    e = (
        edges.join(deg, "src")
        .repartition("src")
        .persist()
    )
    ranks = nodes.select("doc_id", F.lit(1.0 / n).alias("pr"))
    for _ in range(iters):
        dang = (
            ranks.join(
                deg.select(F.col("src").alias("doc_id")), "doc_id", "left_anti"
            )
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang"))
        )
        contrib = (
            e.join(
                ranks.select(F.col("doc_id").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("out")).alias("contrib"))
        )
        new = (
            nodes.join(
                contrib.select(F.col("dst").alias("doc_id"), "contrib"),
                "doc_id",
                "left",
            )
            .crossJoin(F.broadcast(dang))
            .select(
                "doc_id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.lit(float(n))
                    )
                ).alias("pr"),
            )
        )
        # each round reads `ranks` TWICE (dangling + contributions), so
        # an un-truncated plan doubles per round — 2^iters nodes by the
        # end. localCheckpoint materializes the round AND cuts the
        # lineage to the checkpointed RDD (on a cluster: checkpoint()
        # to reliable storage instead, same call shape).
        new_ck = new.localCheckpoint(eager=True)
        ranks = new_ck
    e.unpersist()
    deg.unpersist()
    return ranks


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(doc_id, pr) after `iters` rounds of topic-sensitive PageRank
    (Haveliwala 2002): the teleport lands on a SEED distribution
    instead of uniformly, so authority flows out from a trusted /
    topical set —

        pr_{t+1}(v) = (1-d)·s(v) + d·(Σ_{u→v} pr_t(u)/out(u)
                                      + dangling_t·s(v))

    with s the L1-normalized `seeds` (doc_id, w); non-seeds teleport 0.
    Dangling mass also redistributes over s (the personalization-
    consistent choice: a random surfer who falls off a dangling page
    restarts at a seed), so Σ pr = 1 every round. This is the TrustRank
    / topic-hub mechanism: spam demotion from trusted seeds, per-topic
    authority for BM25 fusion, crawl frontier prioritization toward a
    topic.

    Plan shape: identical to `pagerank` — edges pre-partitioned by src,
    two shuffles per round, dangling via 1-row broadcast, per-round
    localCheckpoint — plus one broadcast-sized (doc_id, s) column
    persisted once; the seed normalization is the only extra driver
    barrier (1 scalar).
    """
    nodes = nodes.select("doc_id")
    tot = float(seeds.agg(F.sum("w").alias("t")).collect()[0]["t"])
    s = seeds.select("doc_id", (F.col("w") / F.lit(tot)).alias("s"))
    base = (
        nodes.join(s, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("s"), F.lit(0.0)).alias("s"))
        .persist()
    )
    base.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out")).persist()
    e = edges.join(deg, "src").repartition("src").persist()
    ranks = base.select("doc_id", F.col("s").alias("pr"))
    for _ in range(iters):
        dang = (
            ranks.join(
                deg.select(F.col("src").alias("doc_id")), "doc_id", "left_anti"
            )
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang"))
        )
        contrib = (
            e.join(
                ranks.select(F.col("doc_id").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("out")).alias("contrib"))
        )
        new = (
            base.join(
                contrib.select(F.col("dst").alias("doc_id"), "contrib"),
                "doc_id",
                "left",
            )
            .crossJoin(F.broadcast(dang))
            .select(
                "doc_id",
                (
                    F.lit(1.0 - damping) * F.col("s")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") * F.col("s")
                    )
                ).alias("pr"),
            )
        )
        ranks = new.localCheckpoint(eager=True)
    e.unpersist()
    deg.unpersist()
    base.unpersist()
    return ranks


def hits(
    nodes: DataFrame, edges: DataFrame, iters: int = 5
) -> DataFrame:
    """(doc_id, hub, auth) after `iters` rounds of Kleinberg's HITS:
    auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each vector
    L2-normalized per half-step. The topic-independent complement to
    PageRank: hubs are link collectors (directories), authorities are
    link targets — at web scale the pair separates navigational hubs
    from content pages, which PageRank conflates.

    Same execution shape as pagerank: per half-step one edges ⋈ vector
    join + one groupBy sum (two shuffles), the L2 norm is a one-row
    aggregate broadcast back (never a driver collect), and each
    normalized vector is localCheckpoint'ed because the normalize step
    reads its raw vector twice (sum-of-squares + divide) — untruncated,
    the plan would double per half-step.
    """
    if iters < 1:
        raise ValueError(f"hits() requires iters >= 1, got {iters}")
    nodes = nodes.select("doc_id")
    # persist a DERIVED relation, never the caller's DataFrame: calling
    # unpersist on `edges` itself would evict a cache the caller owns
    e = edges.select("src", "dst").persist()
    hub = nodes.select("doc_id", F.lit(1.0).alias("v"))

    def _half(vec: DataFrame, src_key: str, dst_key: str) -> DataFrame:
        raw = (
            e.join(vec.select(F.col("doc_id").alias(src_key), "v"), src_key)
            .groupBy(dst_key)
            .agg(F.sum("v").alias("raw"))
            .select(F.col(dst_key).alias("doc_id"), "raw")
        )
        nrm = raw.agg(
            F.coalesce(F.sqrt(F.sum(F.col("raw") * F.col("raw"))), F.lit(1.0)).alias(
                "nrm"
            )
        )
        out = (
            nodes.join(raw, "doc_id", "left")
            .crossJoin(F.broadcast(nrm))
            .select(
                "doc_id",
                (
                    F.coalesce(F.col("raw"), F.lit(0.0))
                    / F.when(F.col("nrm") == 0.0, F.lit(1.0)).otherwise(
                        F.col("nrm")
                    )
                ).alias("v"),
            )
        )
        return out.localCheckpoint(eager=True)

    auth = None
    for _ in range(iters):
        auth = _half(hub, "src", "dst")
        hub = _half(auth, "dst", "src")
    e.unpersist()
    return (
        hub.select("doc_id", F.col("v").alias("hub"))
        .join(auth.select("doc_id", F.col("v").alias("auth")), "doc_id")
    )


def link_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_id, comp_id): connected components of the UNDIRECTED link
    graph, comp_id = minimum doc_id in the component. Isolated docs are
    their own component.

    Reuses the dedup fixpoint (dedup._propagate_min_labels — the exact
    min-label propagation with the Σ-label convergence check) by
    presenting each undirected edge as a two-member bucket: the
    share-a-bucket graph of that relation IS the link graph, so the
    scale analysis there (two 8-byte-row shuffles per round off
    pre-partitioned relations, rounds ≈ log₂ diameter) carries over
    verbatim.
    """
    from search_engine_spark.operators.dedup import _propagate_min_labels

    nodes = nodes.select("doc_id")
    # bucket id = the edge itself (src, dst are both < 2^32 at any
    # driver sf; a real web graph would mint bh = xxhash64(src, dst))
    # Persist eb FIRST so building the two partitioned copies pays the
    # upstream edge computation once, not twice — semdedup's edges are
    # a within-cell quadratic cosine join, the expensive thing here.
    eb = edges.select(
        F.lit(0).alias("band"),
        (F.col("src") * F.lit(4294967296) + F.col("dst")).alias("bh"),
        F.explode(F.array("src", "dst")).alias("doc_id"),
    ).persist()
    by_doc = eb.repartition("doc_id").persist()
    by_bucket = eb.repartition("band", "bh").persist()
    by_doc.count()
    by_bucket.count()
    eb.unpersist()
    # seed with round 1 directly (label(d) = min doc over d's buckets'
    # minima — valid because link_components always seeds identity),
    # the same one-round head start as dedup_labels_from_buckets
    bucket_min = by_bucket.groupBy("band", "bh").agg(
        F.min("doc_id").alias("rep")
    )
    labels = (
        by_doc.join(bucket_min, ["band", "bh"])
        .groupBy("doc_id")
        .agg(F.min("rep").alias("keep_id"))
        .localCheckpoint()
    )
    out = _propagate_min_labels(by_doc, by_bucket, labels)
    merged = (
        nodes.join(out.withColumnRenamed("keep_id", "comp_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp_id"), F.col("doc_id")).alias("comp_id"),
        )
    )
    by_doc.unpersist()
    by_bucket.unpersist()
    return merged


def anchor_postings(
    documents: DataFrame, edges: DataFrame, anchor_len: int = 3
) -> DataFrame:
    """(doc_id, term, tf_anchor): the TARGET page's incoming anchor-text
    term counts, anchor text modeled as the source page's first
    `anchor_len` tokens (the synthetic stand-in for <a> inner text —
    functions/crawl.extract_links yields real anchors from HTML).

    One edges ⋈ pages equi-join on src (pages projected to the bounded
    anchor array BEFORE the join, so the shuffled payload is ≤
    anchor_len tokens/row), then explode + one hash agg on
    (doc_id, term).
    """
    anchors = documents.select(
        F.col("doc_id").alias("src"),
        F.slice(ws_tokens(F.col("text")), 1, anchor_len).alias("anchor"),
    )
    return (
        edges.join(anchors, "src")
        .select(F.col("dst").alias("doc_id"), F.explode("anchor").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf_anchor"))
    )


def fused_bm25_pagerank(
    index,
    query_terms: DataFrame,
    ranks: DataFrame,
    n: int,
    k: int = 10,
    terms: list[str] | None = None,
    round_dp: int | None = None,
) -> DataFrame:
    """Per-query top-k by BM25 · (1 + n·pr): textual relevance scaled
    by normalized authority (n·pr averages 1, so an average-authority
    page scores 2× its bare BM25 — monotone in both signals, never
    zeroes a match).

    Plan: the unchanged broadcast-join BM25 aggregate (postings not
    shuffled, see query.score_bm25), then ONE equi-join on doc_id to
    the (long, double) ranks relation before the top-k window. Same
    tie-break contract as the reference path (score DESC, doc_id ASC).
    """
    from search_engine_spark.operators.query import _bm25, _matched, _rank_cut

    scored = _bm25(_matched(index, query_terms, terms), score="bm")
    # LEFT join: a matched doc missing from the ranks relation (pruned
    # rank table, partial link graph) scores at bare BM25 (pr→0) — the
    # "never zeroes a match" contract
    score = F.col("bm") * (
        F.lit(1.0) + F.lit(float(n)) * F.coalesce(F.col("pr"), F.lit(0.0))
    )
    # round BEFORE the top-k window when a caller compares against a
    # rounded oracle: two docs whose scores differ only beyond the
    # rounding grain must tie and fall back to the doc_id tie-break
    if round_dp is not None:
        score = F.round(score, round_dp)
    fused = scored.join(ranks, "doc_id", "left").select(
        "query_id", "doc_id", score.alias("score")
    )
    return _rank_cut(
        fused, k, ["query_id"], F.col("score").desc(), F.col("doc_id").asc()
    )
