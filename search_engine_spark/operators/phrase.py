"""AND-semantics and positional phrase queries (engine additions).

The reference is OR-only (`term = ANY(...)` + per-page sum,
app/main.py:67-71; SURVEY §2.6/Q9). A usable engine needs conjunctive
and phrase retrieval too:

- AND mode: posting-list intersection expressed as the standard
  group-and-having shape — count distinct matched terms per doc equals
  the query's term count. Same single shuffle as OR scoring; the
  intersection is a post-aggregation filter, not an extra join chain.
- Phrase: a positional index `(term, doc_id, positions array<int>)`
  (posexplode → collect_list, one build shuffle), then consecutive-
  position intersection: fold over the phrase's terms joining on
  doc_id, carrying the array of candidate START positions and
  intersecting `transform(starts, s -> s + i)` with term i's
  positions — all JVM array math, no Python. k-term phrase = k-1
  broadcast-sized joins on doc_id restricted to docs containing all
  terms (the rarest-term list could seed the fold; Catalyst's join
  reordering handles the sizes).

Position semantics: positions index the POST-FILTER token stream (the
same stream TF counts), so phrases match across dropped stop words the
same way the tokenizer sees text. With the whitespace tokenizer on the
pre-tokenized documents table, positions are plain word offsets —
which is what the DuckDB oracle (list_filter over split positions)
checks value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.query import _bm25, _matched, _rank_cut, topk


def positional_postings(docs: DataFrame, tokenizer) -> DataFrame:
    """(term, doc_id, positions sorted array<int>) — the phrase index."""
    tokens = docs.select(
        "doc_id", F.posexplode(tokenizer(F.col("text"))).alias("pos", "term")
    )
    return tokens.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def write_positional_index(pos_index: DataFrame, path: str) -> None:
    """Materialize the positional index term-partitioned and sorted —
    the same serving layout as index_build.write_index
    (index_build.py:386-424): repartition by term so one term's rows
    share files, sortWithinPartitions(term, doc_id) so parquet min/max
    row-group statistics prune term point-lookups at planning time. At
    cluster scale this becomes Iceberg PARTITIONED BY (bucket(N, term))
    exactly like the TF index (SURVEY §4.2.3).

    This closes the last serve-by-recompute gap: phrase/proximity
    queries probe this relation with an isin-pruned parquet scan
    instead of re-running posexplode(tokenizer(text)) over the whole
    corpus per query batch."""
    from search_engine_spark.catalog import write_table

    laid_out = pos_index.repartition(F.col("term")).sortWithinPartitions(
        "term", "doc_id"
    )
    write_table(laid_out, path)


def read_positional_index(spark, path: str) -> DataFrame:
    """Load a materialized positional index for probing. Hold the
    returned handle across queries — re-reading per query would re-list
    the directory."""
    return spark.read.parquet(path)


def phrase_match(
    pos_index: DataFrame, phrase_terms: list[str]
) -> DataFrame:
    """(doc_id, n_occurrences) for docs containing the exact consecutive
    phrase; n counts all (possibly overlapping) start positions."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    t0 = phrase_terms[0]
    cur = pos_index.filter(F.col("term") == t0).select(
        "doc_id", F.col("positions").alias("starts")
    )
    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = pos_index.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("p")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform(F.col("starts"), lambda s: s + F.lit(i)),
                    F.col("p"),
                ).alias("shifted"),
            )
            # keep start positions, not the shifted ones
            .select(
                "doc_id",
                F.transform(F.col("shifted"), lambda s: s - F.lit(i)).alias("starts"),
            )
            .filter(F.size("starts") > 0)
        )
    return cur.select(
        "doc_id", F.size("starts").cast("long").alias("n_occurrences")
    )


def phrase_search(
    docs: DataFrame | None,
    phrase_terms: list[str],
    tokenizer=None,
    k: int = 10,
    pos_index: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs by phrase occurrence count (ties: doc_id asc).

    Pass `pos_index` (a read_positional_index handle) to serve from the
    materialized index — phrase_match's per-term equality filters reach
    the parquet scan as PushedFilters, so only the phrase's own postings
    are read (plan-asserted in tests/test_plans.py). Without it, the
    index is built inline from docs+tokenizer (ad-hoc/one-shot path)."""
    if pos_index is None:
        if docs is None or tokenizer is None:
            raise ValueError("need docs+tokenizer or a pos_index")
        pos_index = positional_postings(docs, tokenizer)
    return (
        phrase_match(pos_index, phrase_terms)
        .orderBy(F.col("n_occurrences").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def gap_phrase_match(
    pos_index: DataFrame,
    slots: list[str | None],
    doc_lengths: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_occurrences) for the WILDCARD-SLOT phrase — slots
    like ["big", None, "data"] match "big <anyword> data" (Lucene's
    "big ? data"; each None is exactly one arbitrary token). Tokens
    are contiguous, so a None slot needs no positional check at all:
    the match is pinned entirely by the non-None slots' offsets, and
    the cost equals a plain phrase over just those terms — a gap
    CHEAPENS the probe (one fewer posting list read + intersect).

    Same plan as phrase_match: per-term pushed-filter probes of the
    materialized positional index, array_intersect folds per doc,
    nothing corpus-sized moves. Start positions clamp at 0 so a
    leading None cannot match before the document begins.
    """
    fixed = [(i, t) for i, t in enumerate(slots) if t is not None]
    if not fixed:
        raise ValueError("gap phrase needs at least one concrete term")
    i0, t0 = fixed[0]
    cur = pos_index.filter(F.col("term") == t0).select(
        "doc_id",
        F.filter(
            F.transform(F.col("positions"), lambda p: p - F.lit(i0)),
            lambda s: s >= 0,
        ).alias("starts"),
    ).filter(F.size("starts") > 0)
    for i, t in fixed[1:]:
        nxt = pos_index.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias("p")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform(F.col("starts"), lambda s: s + F.lit(i)),
                    F.col("p"),
                ).alias("shifted"),
            )
            .select(
                "doc_id",
                F.transform(
                    F.col("shifted"), lambda s: s - F.lit(i)
                ).alias("starts"),
            )
            .filter(F.size("starts") > 0)
        )
    # a trailing None requires the doc to extend past the last fixed
    # slot — the ONE gap shape that needs doc length. Pass
    # `doc_lengths` (doc_id, dl — the TF index's doc_stats has it) to
    # keep this a broadcast-join check; without it we fall back to a
    # full pos_index aggregate, correct but corpus-sized — fine ad-hoc,
    # not a serving path.
    trail = len(slots) - 1 - fixed[-1][0]
    if trail > 0:
        if doc_lengths is not None:
            dl = doc_lengths.select(
                "doc_id", (F.col("dl") - 1).alias("last_pos")
            )
        else:
            dl = pos_index.groupBy("doc_id").agg(
                (F.max(F.expr("positions[size(positions)-1]"))).alias(
                    "last_pos"
                )
            )
        cur = (
            cur.join(dl, "doc_id")
            .select(
                "doc_id",
                F.filter(
                    F.col("starts"),
                    lambda s: s + F.lit(len(slots) - 1) <= F.col("last_pos"),
                ).alias("starts"),
            )
            .filter(F.size("starts") > 0)
        )
    return cur.select(
        "doc_id", F.size("starts").cast("long").alias("n_occurrences")
    )


def gap_phrase_search(
    docs: DataFrame | None,
    slots: list[str | None],
    tokenizer=None,
    k: int = 10,
    pos_index: DataFrame | None = None,
    doc_lengths: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs by wildcard-slot phrase occurrences (ties doc_id ASC);
    same serve-from-materialized-index contract as phrase_search."""
    if pos_index is None:
        if docs is None or tokenizer is None:
            raise ValueError("need docs+tokenizer or a pos_index")
        pos_index = positional_postings(docs, tokenizer)
    return (
        gap_phrase_match(pos_index, slots, doc_lengths=doc_lengths)
        .orderBy(F.col("n_occurrences").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def span_near_match(
    pos_index: DataFrame,
    first: str,
    second: str,
    slop: int = 3,
) -> DataFrame:
    """(doc_id, n_spans): ORDERED proximity — occurrences where `first`
    appears before `second` within `slop` positions (gap 1..slop), the
    Lucene SpanNearQuery(inOrder=true) primitive. Distinct from
    proximity_bm25 (unordered min-distance boost) and phrase (exact
    gap 1): "new york" within 3 matches "new … york" but never
    "york … new". n_spans counts qualifying start positions of
    `first` (each counted once however many `second`s follow).

    Same probe shape as phrase_match: two pushed-filter term lookups
    on the materialized positional index, one doc_id join, and the
    span test is a JVM array `exists` over the two position arrays —
    nothing corpus-sized, no Python.
    """
    a = pos_index.filter(F.col("term") == first).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = pos_index.filter(F.col("term") == second).select(
        "doc_id", F.col("positions").alias("pb")
    )
    j = a.join(b, "doc_id")
    spans = F.filter(
        F.col("pa"),
        lambda s: F.exists(
            F.col("pb"),
            lambda p: (p > s) & (p <= s + F.lit(slop)),
        ),
    )
    return (
        j.select("doc_id", F.size(spans).alias("n_spans"))
        .filter(F.col("n_spans") > 0)
        .select("doc_id", F.col("n_spans").cast("long").alias("n_spans"))
    )


def span_near_search(
    docs: DataFrame | None,
    first: str,
    second: str,
    slop: int = 3,
    tokenizer=None,
    k: int = 10,
    pos_index: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs by ordered span count (ties doc_id ASC); same
    serve-from-materialized-index contract as phrase_search."""
    if pos_index is None:
        if docs is None or tokenizer is None:
            raise ValueError("need docs+tokenizer or a pos_index")
        pos_index = positional_postings(docs, tokenizer)
    return (
        span_near_match(pos_index, first, second, slop=slop)
        .orderBy(F.col("n_spans").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def proximity_bm25(
    index,
    docs: DataFrame | None,
    query_terms: DataFrame,
    tokenizer=None,
    k: int = 10,
    terms: list[str] | None = None,
    lam: float = 1.0,
    pos_index: DataFrame | None = None,
) -> DataFrame:
    """BM25 + term-proximity boost (Rasolofo & Savoy 2003 family):

        score(q,d) = BM25(q,d) + λ·Σ_{a<b ∈ q} 1/(1 + mindist_d(a,b))

    where mindist is the smallest absolute token-position gap between
    any occurrence of the two query terms in d. Documents where the
    pair never co-occurs contribute nothing — adjacent query terms
    ("new york") outrank scattered ones at equal BM25.

    Plan: the positional rows are isin-pruned to the query terms at the
    scan (a few rows per matching doc), the pair-distance self-join is
    on doc_id over that TINY relation, and the boost left-joins the
    standard broadcast-join BM25 aggregate before the top-k window —
    the postings relation itself is never shuffled or re-scanned.
    """
    if pos_index is not None:
        # serving path: isin-pruned scan of the materialized positional
        # index (PushedFilters at the parquet reader — no tokenizer UDF
        # anywhere in the plan), then explode the few surviving
        # position arrays back to rows
        posr = pos_index
        if terms:
            posr = posr.filter(F.col("term").isin(terms))
        posr = posr.select(
            "doc_id", "term", F.explode("positions").alias("pos")
        )
    else:
        if docs is None or tokenizer is None:
            raise ValueError("need docs+tokenizer or a pos_index")
        posr = docs.select(
            "doc_id",
            F.posexplode(tokenizer(F.col("text"))).alias("pos", "term"),
        )
        if terms:
            posr = posr.filter(F.col("term").isin(terms))
    # attach query_id BEFORE pairing: the boost is over pairs a<b of the
    # SAME query's terms — an unkeyed pair join would leak one query's
    # adjacency into another's score in a batch (and with terms=None
    # would pair every term in the document)
    posr = posr.join(F.broadcast(query_terms), "term")
    a = posr.select(
        "query_id", "doc_id", F.col("term").alias("ta"), F.col("pos").alias("pa")
    )
    b = posr.select(
        "query_id", "doc_id", F.col("term").alias("tb"), F.col("pos").alias("pb")
    )
    prox = (
        a.join(b, ["query_id", "doc_id"])
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("query_id", "doc_id", "ta", "tb")
        .agg(F.min(F.abs(F.col("pa") - F.col("pb"))).alias("d"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.lit(1.0) / (F.lit(1.0) + F.col("d"))).alias("prox"))
    )
    scored = (
        _bm25(_matched(index, query_terms, terms), score="bm")
        .join(prox, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("bm")
                + F.lit(lam) * F.coalesce(F.col("prox"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    return topk(scored, k)


def best_passage(
    pos_index: DataFrame,
    terms: list[str],
    passage_size: int = 16,
    k: int = 10,
) -> DataFrame:
    """(doc_id, passage_start, n_terms, n_matches): the best fixed
    window of `passage_size` tokens per document for a query, ranked
    (distinct query terms covered DESC, total matches DESC) — the
    snippet-SELECTION step of a search frontend, run at corpus scale
    over the materialized positional index instead of re-reading text.

    Windows are aligned (win = ⌊pos / passage_size⌋), not sliding: a
    2× denser stride would double the agg rows for ~1 window of recall
    gain; alignment keeps every signal integer-exact and replayable.
    Passage quality ordering is purely integral (no FP ties), per-doc
    argmax breaks ties toward the EARLIEST window, the final doc cut
    toward the smallest doc_id (the Q7 rule family).

    Scale shape: the isin prune pushes to the term-partitioned parquet
    scan (only the query terms' position lists are read), one explode
    (positions are per-(doc,term) arrays), one hash agg keyed
    (doc_id, win), one rank-limit window — no corpus re-tokenization,
    no self-join. Reference analog: snippet choice in app/utils.py is
    first-match-only over raw text; this is the ranked generalization.
    """
    occ = pos_index.filter(F.col("term").isin(list(terms))).select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )
    wb = (
        occ.withColumn(
            "win", F.floor(F.col("pos") / F.lit(float(passage_size))).cast("long")
        )
        .groupBy("doc_id", "win")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )
    order = (F.col("n_terms").desc(), F.col("n_matches").desc(), F.col("win").asc())
    best = (
        _rank_cut(wb, 1, ["doc_id"], *order)
        .select(
            "doc_id",
            (F.col("win") * passage_size).cast("long").alias("passage_start"),
            "n_terms",
            "n_matches",
        )
    )
    return best.orderBy(
        F.col("n_terms").desc(), F.col("n_matches").desc(), F.col("doc_id").asc()
    ).limit(k)


def passage_snippets(
    documents: DataFrame,
    pos_index: DataFrame,
    terms: list[str],
    passage_size: int = 16,
    k: int = 10,
) -> DataFrame:
    """(doc_id, passage_start, n_terms, n_matches, snippet): the
    best_passage winners joined back to their text — the user-visible
    snippet for each top doc, sliced token-exact from the same
    whitespace tokenization the positional index was built with.

    Scale shape: best_passage runs entirely on the pruned positional
    probe; only the k winning (doc_id, window) rows are broadcast
    against the docs relation, so full text is touched for exactly k
    documents (a broadcast-semi-join-sized read, never a corpus scan
    feeding a sort).
    """
    from search_engine_spark.operators.text_analytics import ws_tokens

    best = best_passage(pos_index, terms, passage_size=passage_size, k=k)
    return (
        documents.join(F.broadcast(best), "doc_id")
        .select(
            "doc_id",
            "passage_start",
            "n_terms",
            "n_matches",
            F.concat_ws(
                " ",
                F.slice(
                    ws_tokens(F.col("text")),
                    F.col("passage_start").cast("int") + F.lit(1),
                    F.lit(passage_size),
                ),
            ).alias("snippet"),
        )
        .orderBy(
            F.col("n_terms").desc(),
            F.col("n_matches").desc(),
            F.col("doc_id").asc(),
        )
    )
