"""Query-time scoring: TF-IDF-compat (reference-identical) and BM25 top-k.

Reference query pipeline (app/main.py:51-75): tokenize+stop-filter the
query, restrict `terms` to the query terms (J3), explode postings (J1),
join pages (J2), per-page `SUM(tf_idf::real) * COUNT(term)` (A6), sort
DESC limit 10 (W1). OR semantics (quirk Q9), f32 scores (Q5), tie-break
(score DESC, doc_id ASC) defined by us (Q7).

Every BM25 serving function here (and in ltr/rerank/graph/phrase) is
one skeleton on shared private builders, so they share one plan:

  _query_terms: queries tokenized ONCE on the driver → (query_id, term)
      table + the literal term list. The table is built from Arrow
      columns, so it plans as a LocalRelation that broadcasts from the
      driver with no Spark job. No indexable term (an empty list, or
      only stop words) → the caller returns an empty frame of its
      schema without building a postings join.
  _matched: postings ⋈ BROADCAST(query_terms)       -- no shuffle
                     ⋈ BROADCAST(term_stats∩qterms) -- tiny dim
      with `term IN (...)` pushed into both parquet scans; that
      literal isin is the whole term restriction (no semi-join of
      term_stats against the term table unless the list is unknown).
  _bm25: groupBy(query_id, doc_id) hash agg of Σ bm25_idf·tf_norm
      (× a `weight` column when the term table has one), optionally
      rounded BEFORE any cut so sub-epsilon twins replay identically,
      plus an optional matched-term threshold (m-of-n, AND) applied
      after the agg — the one shuffle.
  → topk / _rank_cut: rank-limit window (pushed down as
      WindowGroupLimit); topk sorts the ≤ k·|queries| survivors inside
      ONE output partition (_sorted), with no range-partition sampling
      job. A `search` request on a persisted index runs 5 Spark jobs.

The LM family (Dirichlet, Jelinek-Mercer, absolute discount, and the
rescore window's Dirichlet pass) is one builder, _lm: the same match
with p(t|C) attached (_lm_matched) → one hash agg of a per-term log
expression (+ |q|·tail) rounded 9dp; each smoother only supplies its
two expressions. BM25F sums the per-posting contributions the BM25F
block index stores (blocks._bm25f_contrib, isin-pruned to the query
terms) after a broadcast join with the query terms.

Feature-specific steps (tombstone anti-join, keyset cursor, shard
window, decay multiply, …) sit between the aggregate and the cut on
matched-doc-sized relations and add no shuffle of postings.

Float determinism contract (shared with oracle/oracle.py): per-term
score is computed in f64 (compat: per-term value rounded to f32 first),
summed in f64, final compat score rounded to f32. With ≤~16 query terms
the f64 partial sums are associativity-insensitive at f32 granularity,
so partition order cannot flip ranks; remaining ties are killed by Q7.
"""

from __future__ import annotations

from dataclasses import replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import tokenize_query
from search_engine_spark.operators.index_build import InvertedIndex

#: schema of every (query_id, doc_id, score) hit list, empty ones too
_HITS = "query_id int, doc_id long, score double"
#: Arrow schemas of the driver-built tables (see _local)
_HITS_PA = pa.schema(
    [("query_id", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())]
)
_TERMS = pa.schema([("query_id", pa.int32()), ("term", pa.string())])
_WEIGHTED = _TERMS.append(pa.field("weight", pa.float64()))
_Q = pa.schema([("q", pa.string())])


def _tokenized(queries: dict[int, str] | list[str]) -> dict[int, list[str]]:
    """query_id → the query's distinct terms, first-seen order (a list
    of queries is numbered 0..n-1). Duplicates drop: the reference's
    `term = ANY(array)` matches a term once per distinct term
    (app/main.py:67)."""
    if isinstance(queries, list):
        queries = dict(enumerate(queries))
    return {
        qid: list(dict.fromkeys(tokenize_query(q))) for qid, q in queries.items()
    }


def _query_terms(
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    tokenized: bool = False,
) -> tuple[DataFrame, list[str]]:
    """(query_id, term) table + the distinct literal terms for the
    pushed isin. `queries` are query strings, tokenized here; with
    `tokenized=True` they are ONE query's terms, served as query 0.
    A batch's term list is sorted, a single query's keeps its order.
    An empty term list means there is nothing to match. The table is
    built from Arrow columns (_local)."""
    toks = {0: list(dict.fromkeys(queries))} if tokenized else _tokenized(queries)
    rows = [(qid, t) for qid, ts in toks.items() for t in ts]
    terms = list(dict.fromkeys(t for _, t in rows))
    if not tokenized:
        terms.sort()
    return _local(spark, rows, _TERMS), terms


def _local(spark: SparkSession, rows: list[tuple], schema: pa.Schema) -> DataFrame:
    """A driver-built table of `rows` from Arrow columns: it plans as a
    LocalRelation and broadcasts without a Spark job (a rows + DDL
    frame plans as an RDD scan whose broadcast costs one)."""
    cols = [list(c) for c in zip(*rows)] or [[] for _ in schema]
    return spark.createDataFrame(pa.table(cols, schema=schema))


def queries_to_terms(
    spark: SparkSession, queries: dict[int, str] | list[str]
) -> DataFrame:
    """Tokenize queries driver-side (they are tiny) → (query_id, term),
    duplicate terms within one query dropped."""
    return _query_terms(spark, queries)[0]


def _matched(
    index: InvertedIndex, query_terms: DataFrame, terms: list[str] | None = None
) -> DataFrame:
    """postings restricted to query terms, with term stats attached.

    Both join sides against postings are broadcast: the query-term set
    (a few rows) and term_stats∩qterms (≤ #query terms rows). The big
    postings relation is never shuffled here. When the literal term set
    is known driver-side (it always is — queries are tokenized on the
    driver), an `isin` predicate is ALSO applied so Catalyst pushes it
    into the parquet scan (`PushedFilters: In(term, ...)`): with the
    index laid out sorted-by-term, row-group stats skip everything but
    the touched posting lists — the Spark analog of a term-dictionary
    seek, and the difference between O(index) and O(matched postings)
    IO at 10^12-doc scale.
    """
    postings = index.postings
    if terms:
        postings = postings.filter(F.col("term").isin(terms))
    ts_q = _of_terms(index.term_stats, query_terms, terms)
    return postings.join(F.broadcast(query_terms), "term").join(
        F.broadcast(ts_q), "term"
    )


def _of_terms(
    df: DataFrame, query_terms: DataFrame, terms: list[str] | None
) -> DataFrame:
    """`df` restricted to the query terms: by the pushed isin when the
    literal list is known (a semi-join against the term table on top of
    it would only add a shuffle and a broadcast), else by a broadcast
    semi-join against the term table."""
    if terms:
        return df.filter(F.col("term").isin(terms))
    return df.join(
        F.broadcast(query_terms.select("term").distinct()), "term", "left_semi"
    )


def _bm25_agg(
    m: DataFrame, *extra, round_dp: int | None = None, score: str = "score"
) -> DataFrame:
    """(query_id, doc_id, <score>, n_matched, *extra) over matched rows:
    score = Σ [weight·] bm25_idf·tf_norm (weighted when `m` carries a
    `weight` column), rounded `round_dp` when given; n_matched counts
    the doc's matched query terms."""
    w = F.col("bm25_idf")
    if "weight" in m.columns:
        w = F.col("weight") * w
    s = F.sum(w * F.col("tf_norm"))
    if round_dp is not None:
        s = F.round(s, round_dp)
    return m.groupBy("query_id", "doc_id").agg(
        s.alias(score), F.count(F.lit(1)).alias("n_matched"), *extra
    )


def _bm25(
    m: DataFrame,
    round_dp: int | None = None,
    score: str = "score",
    min_match: int | DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, <score>): `_bm25_agg` with an optional
    matched-term threshold — an int keeps docs matching ≥ that many of
    their query's terms; a (query_id, n_required) table keeps docs
    matching all n_required (AND), joined broadcast after the agg."""
    scored = _bm25_agg(m, round_dp=round_dp, score=score)
    if isinstance(min_match, int):
        scored = scored.filter(F.col("n_matched") >= min_match)
    elif min_match is not None:
        scored = (
            scored.join(F.broadcast(min_match), "query_id")
            .filter(F.col("n_matched") == F.col("n_required"))
            .drop("n_required")
        )
    return scored.drop("n_matched")


def _rank_cut(df: DataFrame, n: int, keys: list[str], *order) -> DataFrame:
    """The first n rows under `order` within each `keys` group (one
    global group when `keys` is empty). The row_number ≤ n filter
    compiles to WindowGroupLimit: each partition keeps its n candidates
    per group before the exchange and the final per-group sort."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


def _sorted(df: DataFrame, *order) -> DataFrame:
    """`df` sorted by `order` in ONE output partition. For output a
    rank cut has already bounded (a few rows per group) this replaces
    a global orderBy, whose range partitioning runs a sampling job."""
    return df.coalesce(1).sortWithinPartitions(*order)


def _by_score(score: str = "score") -> tuple:
    """The hit order: `score` DESC, ties doc_id ASC (quirk Q7)."""
    return F.col(score).desc(), F.col("doc_id").asc()


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """Per-query top-k, tie-break (score DESC, doc_id ASC) — quirk Q7:
    the distributed top-k heap merge of TakeOrderedAndProject
    generalized per query_id."""
    cut = _rank_cut(scored, k, ["query_id"], *_by_score())
    return _sorted(cut, "query_id", *_by_score())


def score_tfidf_compat(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 10,
    terms: list[str] | None = None,
) -> DataFrame:
    """Reference ranking fn: SUM(f32(tf·idf_f32)) * COUNT(term), f32 (A6/W1)."""
    m = _matched(index, query_terms, terms)
    per_term = (F.col("tf") * F.col("idf_f32")).cast("float").cast("double")
    scored = m.groupBy("query_id", "doc_id").agg(
        (F.sum(per_term) * F.count(F.lit(1))).cast("float").alias("score")
    )
    return topk(scored, k)


def score_bm25(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int = 10,
    terms: list[str] | None = None,
    mode: str = "or",
) -> DataFrame:
    """BM25 (quirk Q11): Σ_t idf_t · tf_norm — tf_norm derived from each
    matched posting's own tf and dl (no doc_stats join), so scoring is
    one broadcast-joined scan + one hash agg.

    mode='and' → conjunctive retrieval: docs must match EVERY term of
    their query (posting-list intersection as a post-agg filter against
    each query's term count — no extra shuffle; reference is OR-only,
    SURVEY §2.6/Q9)."""
    need = None
    if mode == "and":
        need = query_terms.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_required")
        )
    return topk(_bm25(_matched(index, query_terms, terms), min_match=need), k)


def search(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    k: int = 10,
    scorer: str = "bm25",
) -> DataFrame:
    """End-to-end multi-query search → (query_id, doc_id, score) top-k rows."""
    score = {
        "bm25": score_bm25,
        "tfidf_compat": score_tfidf_compat,
        "lm_dirichlet": score_lm_dirichlet,
        "jm": score_jelinek_mercer,
        "absolute_discount": score_absolute_discount,
    }.get(scorer)
    if score is None:
        raise ValueError(scorer)
    qt, terms = _query_terms(spark, queries)
    if not terms:
        return spark.createDataFrame([], _HITS)
    return score(index, qt, k=k, terms=terms)


def search_and_present(
    index: InvertedIndex,
    pages: "DataFrame",
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    k: int = 10,
    scorer: str = "bm25",
) -> DataFrame:
    """The reference's GET /search, end to end (app/main.py:51-95):
    tokenize → score → top-k → join pages → title/domain/breadcrumb/
    snippet. Returns one presented row per hit, ranked per query.

    `pages` must carry (url, html[, title]), plus the index's `doc_id`
    when the index was not built with hash ids (see present_results)."""
    from search_engine_spark.functions.presentation import present_results

    topk = search(index, spark, queries, k=k, scorer=scorer)
    return present_results(topk, pages, queries)


def did_you_mean(
    index: InvertedIndex,
    terms: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """(term, suggestion, dist, df): for each query term absent from
    the index vocabulary, the closest indexed term by Levenshtein
    distance (≤ max_dist), ties broken by higher df then
    lexicographically — the "did you mean" query aid every search
    frontend ships (no reference analog: dastarruer/search-engine
    returns empty results on misspellings).

    Plan shape: ONE narrow scan of term_stats. The tiny query-term
    relation is crossJoin-broadcast against the vocabulary with a
    length-band prefilter (|len(term) − len(q)| ≤ max_dist, implied by
    the distance bound, so it prunes without changing results — at
    10^8-term vocabularies it skips >90 % of distance evaluations
    inside the scan stage), then a per-term top-1 window over the ≤
    few surviving candidates. No shuffle of anything corpus-sized.
    """
    spark = index.term_stats.sparkSession
    present = {
        r["term"]
        for r in index.term_stats.filter(F.col("term").isin(terms))
        .select("term")
        .collect()
    }
    missing = [t for t in terms if t not in present]
    if not missing:
        return spark.createDataFrame(
            [], "term string, suggestion string, dist int, df long"
        )
    qt = F.broadcast(_local(spark, [(t,) for t in missing], _Q))
    cand = (
        index.term_stats.select("term", "df")
        .crossJoin(qt)
        .filter(
            F.abs(F.length("term") - F.length("q")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("q", "term"))
        .filter(F.col("dist") <= max_dist)
    )
    order = (F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
    return (
        _rank_cut(cand, 1, ["q"], *order)
        .select(
            F.col("q").alias("term"),
            F.col("term").alias("suggestion"),
            F.col("dist").cast("int").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
    )


def fuzzy_expand(
    index: InvertedIndex,
    terms: list[str],
    max_dist: int = 2,
    prefix_len: int = 1,
    max_expansions: int = 5,
) -> DataFrame:
    """(q, term, dist, boost, df): for each query term, the vocabulary
    terms within Levenshtein distance ≤ `max_dist` that share its first
    `prefix_len` characters — Lucene FuzzyQuery's expansion step (no
    reference analog: dastarruer/search-engine matches terms exactly).
    Each q keeps at most `max_expansions` candidates by (dist ASC,
    df DESC, term ASC); boost = 1 − dist/max(len(q), len(term)), so the
    exact term (dist 0) keeps weight 1.0 and farther edits decay.

    Plan shape: ONE narrow scan of term_stats with the tiny query-term
    relation crossJoin-broadcast against it. The prefix equality and the
    length band (|len(term) − len(q)| ≤ max_dist, implied by the
    distance bound) are scan-stage prefilters: with a 26-way first-char
    split they skip ~96 % of a 10^8-term vocabulary before any distance
    is computed, and nothing corpus-sized shuffles — the survivors per q
    are a handful of rows cut by a per-q window.
    """
    spark = index.term_stats.sparkSession
    qset = list(dict.fromkeys(terms))
    qt = F.broadcast(_local(spark, [(t,) for t in qset], _Q))
    cand = (
        index.term_stats.select("term", "df")
        .crossJoin(qt)
        .filter(
            (F.substring("term", 1, prefix_len)
             == F.substring("q", 1, prefix_len))
            & (F.abs(F.length("term") - F.length("q")) <= max_dist)
        )
        .withColumn("dist", F.levenshtein("q", "term"))
        .filter(F.col("dist") <= max_dist)
    )
    order = (F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
    return (
        _rank_cut(cand, max_expansions, ["q"], *order)
        .select(
            "q",
            "term",
            F.col("dist").cast("int").alias("dist"),
            (
                1.0
                - F.col("dist")
                / F.greatest(F.length("q"), F.length("term")).cast("double")
            ).alias("boost"),
            F.col("df").cast("long").alias("df"),
        )
    )


def fuzzy_search(
    index: InvertedIndex,
    query_terms: list[str],
    k: int = 10,
    max_dist: int = 2,
    prefix_len: int = 1,
    max_expansions: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): BM25 retrieval tolerant of misspelled
    query terms, Lucene-FuzzyQuery-style. Each query term is expanded
    via `fuzzy_expand`; a document's contribution for one query term is
    the MAX over that term's expansions of boost·idf·tf_norm (the
    blended-disjunction semantics — a doc matching both 'spark' and
    'sort' for the query term 'spork' is not double-counted), and the
    final score sums those per-term maxima. Rounded `round_dp` BEFORE
    the top-k cut so sub-epsilon score twins rank identically in any
    replay; ties doc_id ASC (quirk Q7).

    Scale shape: the expansion is collected driver-side — ≤
    |q|·max_expansions scalars, the same k-scalar barrier class as the
    RM3/Lloyd/BPE loops — so the probe pushes a literal isin into the
    postings scan (the dictionary-seek shape of plain `search`): fuzzy
    matching changes WHICH posting lists are read, never HOW many rows
    shuffle. Two hash aggs (per-qterm max, then per-doc sum) over the
    matched rows only.
    """
    spark = index.term_stats.sparkSession
    exp = fuzzy_expand(
        index, query_terms, max_dist=max_dist, prefix_len=prefix_len,
        max_expansions=max_expansions,
    ).collect()  # ≤ |q|·max_expansions scalars — the expansion barrier
    if not exp:
        return spark.createDataFrame([], _HITS)
    terms = sorted({r["term"] for r in exp})
    edf = F.broadcast(
        _local(
            spark,
            [(0, r["q"], r["term"], float(r["boost"])) for r in exp],
            pa.schema([("query_id", pa.int32()), ("q", pa.string()),
                       ("term", pa.string()), ("boost", pa.float64())]),
        )
    )
    m = _matched(index, edf.select("query_id", "term").distinct(), terms=terms)
    per_qterm = (
        m.join(edf, ["query_id", "term"])
        .groupBy("query_id", "q", "doc_id")
        .agg(
            F.max(
                F.col("boost") * F.col("bm25_idf") * F.col("tf_norm")
            ).alias("contrib")
        )
    )
    scored = per_qterm.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("contrib"), round_dp).alias("score")
    )
    return topk(scored, k)


def autocomplete(
    index: InvertedIndex,
    typed: str,
    n: int = 10,
    max_dist: int = 2,
) -> DataFrame:
    """(suggestion, df, src): typeahead completion — vocabulary terms
    starting with the typed string ranked by popularity (df DESC, term
    ASC), and when fewer than `n` exist, the remainder filled with
    typo-tolerant candidates within Levenshtein `max_dist` of the typed
    string (same first character, the fuzzy_expand gate) that don't
    already prefix-match. src ∈ prefix | fuzzy says which path produced
    each row. No reference analog (its frontend has no suggest box).

    ONE job, no driver barrier: both candidate sets come from the same
    narrow term_stats scan (the startswith predicate pushes to the
    scan for the prefix side), are unioned with a path rank, and a
    single global window (path, dist, df DESC, term) takes the top n —
    prefix hits always outrank fuzzy fills, each side keeps its own
    internal order. At a 10^8-term vocabulary both sides are scan-stage
    filters; only ≤ a few hundred survivors reach the window.
    """
    ts = index.term_stats.select("term", "df")
    pref = ts.filter(F.col("term").startswith(typed)).select(
        "term",
        "df",
        F.lit(0).alias("path"),
        F.lit(0).alias("dist"),
    )
    fuzz = (
        ts.filter(
            ~F.col("term").startswith(typed)
            & (F.substring("term", 1, 1) == F.lit(typed[:1]))
            & (F.abs(F.length("term") - F.lit(len(typed))) <= max_dist)
        )
        .withColumn("dist", F.levenshtein(F.lit(typed), F.col("term")))
        .filter(F.col("dist") <= max_dist)
        .select("term", "df", F.lit(1).alias("path"), "dist")
    )
    cand = pref.unionByName(fuzz)
    order = (
        F.col("path").asc(), F.col("dist").asc(), F.col("df").desc(),
        F.col("term").asc(),
    )
    return (
        _rank_cut(cand, n, [], *order)
        .select(
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
            F.when(F.col("path") == 0, "prefix").otherwise("fuzzy").alias("src"),
        )
    )


def explain_score(
    index: InvertedIndex,
    query_terms: list[str],
    doc_ids: list[int],
    round_dp: int = 6,
) -> DataFrame:
    """(doc_id, term, tf, df, idf, tf_norm, contribution): the
    per-term BM25 breakdown for specific documents — the engine's
    `explain` API ("why does doc 17 score 4.2 for this query"), the
    debugging surface every production engine exposes
    (Elasticsearch _explain, Lucene Explanation). contribution =
    idf·tf_norm; Σ contribution over a doc's rows = its serving score
    (up to the final rounding), so a mis-ranked result decomposes into
    exactly which term and which factor moved it.

    Shape: the `_matched` probe further restricted by the doc_id isin —
    a few rows survive; no aggregation, pure per-row column math."""
    spark = index.postings.sparkSession
    qt, terms = _query_terms(spark, query_terms, tokenized=True)
    if not terms:
        return spark.createDataFrame(
            [],
            "doc_id long, term string, tf long, df long, idf double,"
            " tf_norm double, contribution double",
        )
    m = _matched(index, qt, terms).filter(
        F.col("doc_id").isin([int(d) for d in doc_ids])
    )
    return m.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("bm25_idf", round_dp).alias("idf"),
        F.round("tf_norm", round_dp).alias("tf_norm"),
        F.round(F.col("bm25_idf") * F.col("tf_norm"), round_dp).alias(
            "contribution"
        ),
    )


def tombstone_search(
    index: InvertedIndex,
    deleted_ids: "DataFrame",
    query_terms: list[str],
    k: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): BM25 serving with DELETES as a
    tombstone overlay — deleted docs are excluded from results while
    the index's global statistics (df, N, avgdl) stay STALE until the
    next rebuild. This is deliberately the Lucene/Elasticsearch delete
    semantics: a delete must take effect in results immediately, but
    recomputing corpus statistics per delete would rebuild the index
    (that full-recompute path exists as index_build.delete_docs; run
    it at merge/compaction cadence, serve tombstones in between).

    The tombstone anti-join is broadcast (a deletion list is ≪ corpus
    between rebuilds) and applies AFTER the per-doc aggregate — deletes
    cost nothing at scan time. Top-k is cut after exclusion, so a page
    stays full while any matches remain.
    """
    spark = index.postings.sparkSession
    qt, terms = _query_terms(spark, query_terms, tokenized=True)
    if not terms:
        return spark.createDataFrame([], _HITS)
    alive = _bm25(_matched(index, qt, terms), round_dp).join(
        F.broadcast(deleted_ids.select("doc_id")), "doc_id", "left_anti"
    )
    return topk(alive, k)


def sharded_search(
    index: InvertedIndex,
    query_terms: list[str],
    n_shards: int = 4,
    k: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): BM25 through the SCATTER-GATHER
    topology every multi-node engine serves with — docs hash to
    `n_shards` shards, each shard returns its local top-k, the
    gather step merges the ≤ n_shards·k candidates into the global
    top-k. EXACT by construction (tested + oracle-gated against plain
    search): with GLOBAL statistics (df, N, avgdl frozen at build, as
    this index does) a doc's score is shard-independent, and the
    global top-k is contained in the union of shard top-ks — the
    standard correctness argument for distributed query fan-out.

    Plan shape: the scatter is one extra window keyed (query_id,
    shard) — rank-limit pushed per partition via WindowGroupLimit —
    and the gather re-ranks ≤ n_shards·k rows, a driver-scale relation.
    In a real deployment each shard's window runs where its postings
    live; here both stages are one job, which is the point of
    expressing topology as a plan property instead of RPC code.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = index.postings.sparkSession
    qt, terms = _query_terms(spark, query_terms, tokenized=True)
    if not terms:
        return spark.createDataFrame([], _HITS)
    scored = _bm25(_matched(index, qt, terms), round_dp).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards))
    )
    local_topk = _rank_cut(scored, k, ["query_id", "shard"], *_by_score())
    return topk(local_topk.drop("shard"), k)


def next_word_suggest(
    documents: "DataFrame",
    prev: str,
    prefix: str = "",
    n: int = 10,
    tokenizer=None,
) -> DataFrame:
    """(suggestion, n_follow): "search as you type", word two — the
    top continuations of `prev` by adjacent-bigram frequency in the
    corpus, optionally restricted to a typed `prefix` of the next word
    (the query-suggestion box every engine ships; the reference has
    none). Ordered n_follow DESC, suggestion ASC.

    Plan shape: the same scan-stage bigram transform as
    collocations_llr with the `prev` equality folded INTO the lambda,
    so only continuations of the one word leave the scan — the shuffle
    carries at most |vocab| rows, and in practice a handful. A serving
    deployment materializes the full bigram table once and turns this
    into a pushed-filter point lookup (the write_index layout applies
    verbatim with (a) as the sort key)."""
    from search_engine_spark.operators.text_analytics import ws_tokens

    tok = tokenizer or ws_tokens
    t = F.col("t")
    toks = documents.select(tok(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    # `prev` enters as a literal value, never as SQL text: no escaping
    follows = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.when(t[i] == F.lit(prev), t[i + 1]),
    )
    nxt = toks.select(
        F.explode(F.filter(follows, lambda x: x.isNotNull())).alias("suggestion")
    )
    if prefix:
        nxt = nxt.filter(F.col("suggestion").startswith(prefix))
    return (
        nxt.groupBy("suggestion")
        .agg(F.count(F.lit(1)).alias("n_follow"))
        .orderBy(F.col("n_follow").desc(), F.col("suggestion").asc())
        .limit(n)
    )


def corrected_search(
    index: InvertedIndex,
    query_terms: list[str],
    k: int = 10,
    max_dist: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): BM25 with "did you mean" wired into
    serving — query terms absent from the vocabulary are REPLACED by
    their closest suggestion (did_you_mean's ≤ max_dist, higher-df,
    lexicographic tie rule) before scoring; in-vocabulary terms pass
    through; unfixable terms drop (OR semantics ignores them anyway).
    The end-to-end behavior a user sees as "showing results for …".

    The substitution is a ≤|q|-scalar driver barrier (the same class
    as the RM3/fuzzy expansion collects)."""
    spark = index.postings.sparkSession
    sugg = {
        r["term"]: r["suggestion"]
        for r in did_you_mean(index, query_terms, max_dist=max_dist).collect()
    }
    qt, terms = _query_terms(
        spark, [sugg.get(t, t) for t in query_terms], tokenized=True
    )
    if not terms:
        return spark.createDataFrame([], _HITS)
    return topk(_bm25(_matched(index, qt, terms), round_dp), k)


def _lm_matched(
    index: InvertedIndex, query_terms: DataFrame, terms: list[str] | None
) -> DataFrame:
    """`_matched` rows with p(t|C) = cf_t / |C| attached (broadcast).
    p(t|C) is a CORPUS constant — computed from the (isin-pruned)
    postings themselves, NOT from the matched rows: those hold one row
    per (query, posting), so a term shared by several batch queries
    would double its collection frequency there. |C| = Σ doc_stats.dl
    comes from the driver scalars, n_docs·avgdl (Spark's avg of a long
    sums in f64, so the rounded product is exact below 2^51 tokens)."""
    total_tokens = round(index.n_docs * index.avgdl)
    p_c = (
        _of_terms(index.postings, query_terms, terms)
        .select("term", "tf")
        .groupBy("term")
        .agg(F.sum("tf").alias("cf"))
        .withColumn("p_c", F.col("cf").cast("double") / F.lit(float(total_tokens)))
    )
    return _matched(index, query_terms, terms).join(
        F.broadcast(p_c.select("term", "p_c")), "term"
    )


def _lm(
    index: InvertedIndex,
    query_terms: DataFrame,
    terms: list[str] | None,
    per_term,
    tail=None,
    doc: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Uncut (query_id, doc_id, score) of one query-likelihood smoother
    in the rank-equivalent matched-terms decomposition (the
    doc-independent Σ_t ln p(t|C) is dropped):

        score = round(Σ_{t∈q∩d} per_term + |q|·tail, 9)

    `per_term` reads the `_lm_matched` row (tf, dl, p_c) and the columns
    of the `doc` relations, joined on doc_id before the one aggregate;
    `tail` (absent: no length term) reads the posting's dl and the `doc`
    columns, which ride through the aggregate as group keys (one
    doc_id, one value each)."""
    m = _lm_matched(index, query_terms, terms)
    keys = ["query_id", "doc_id"]
    for d in doc:
        m = m.join(d, "doc_id")
    if tail is not None:
        keys += ["dl"] + [c for d in doc for c in d.columns if c != "doc_id"]
    s = m.groupBy(*keys).agg(F.sum(per_term).alias("s_matched"))
    score = F.col("s_matched")
    if tail is not None:
        nq = query_terms.groupBy("query_id").agg(F.count(F.lit(1)).alias("nq"))
        s = s.join(F.broadcast(nq), "query_id")
        score = score + F.col("nq").cast("double") * tail
    return s.select("query_id", "doc_id", F.round(score, 9).alias("score"))


def _f64(name: str):
    """Column `name` cast to f64."""
    return F.col(name).cast("double")


def _dirichlet(mu: float) -> tuple:
    """LM-Dirichlet's (per_term, tail) for `_lm` (see score_lm_dirichlet)."""
    return (
        F.log(F.lit(1.0) + _f64("tf") / (F.lit(mu) * F.col("p_c"))),
        F.log(F.lit(mu) / (_f64("dl") + F.lit(mu))),
    )


def score_lm_dirichlet(
    index: InvertedIndex,
    query_terms: DataFrame,
    mu: float = 2000.0,
    k: int = 10,
    terms: list[str] | None = None,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet-prior smoothing (Zhai &
    Lafferty 2001) — the standard LM alternative to BM25; values can be
    positive since the query constant is dropped (`_lm`):

        score(q,d) = Σ_t∈q∩d ln(1 + tf_td / (μ·p(t|C)))
                     + |q|·ln(μ / (dl_d + μ))

    The candidate set is docs matching ≥1 query term (standard
    inverted-index retrieval). p(t|C) = cf_t / |C| (collection
    frequency over total tokens) is computed from the isin-pruned
    postings scan — rows only for the query terms, a scalar-sized
    aggregate at any corpus size — and broadcast (`_lm_matched`). dl
    comes from the matched postings. Ties: score DESC, doc_id ASC (the
    Q7 rule). Rounded 9dp for oracle comparison.
    """
    return topk(_lm(index, query_terms, terms, *_dirichlet(mu)), k)


def score_jelinek_mercer(
    index: InvertedIndex,
    query_terms: DataFrame,
    lam: float = 0.7,
    k: int = 10,
    terms: list[str] | None = None,
) -> DataFrame:
    """Query-likelihood ranking with Jelinek-Mercer (fixed-λ linear)
    smoothing — the second classic LM smoother next to Dirichlet
    (Zhai & Lafferty 2001: JM favors verbose queries, Dirichlet short
    ones; an engine offering LM ranking ships both):

        score(q,d) = Σ_{t∈q∩d} ln(1 + λ·(tf/dl) / ((1−λ)·p(t|C)))

    Scores are ≥ 0, no length-norm tail term (unlike Dirichlet —
    that's the λ-vs-μ trade). Rounded 9dp for oracle comparison;
    ties Q7.
    """
    p_d = F.lit(lam) * (_f64("tf") / _f64("dl"))
    per_term = F.log(F.lit(1.0) + p_d / (F.lit(1.0 - lam) * F.col("p_c")))
    return topk(_lm(index, query_terms, terms, per_term), k)


def score_absolute_discount(
    index: InvertedIndex,
    query_terms: DataFrame,
    delta: float = 0.7,
    k: int = 10,
    terms: list[str] | None = None,
) -> DataFrame:
    """Query-likelihood with ABSOLUTE DISCOUNT smoothing — the third
    of Zhai & Lafferty's classic smoothers (δ subtracted from every
    seen count, mass redistributed via the doc's distinct-term count):

        p_δ(t|d) = max(tf−δ,0)/dl + (δ·|d|_u/dl)·p(t|C)
        score = Σ_{t∈q∩d} ln(1 + max(tf−δ,0)/(δ·|d|_u·p(t|C)))
                + |q|·ln(δ·|d|_u/dl)

    where |d|_u is the number of DISTINCT terms in d (computed at
    probe time by one extra doc-grouped aggregate over the postings —
    at build time it would live in doc_stats). Rounded 9dp; ties Q7.
    """
    # |d|_u: distinct terms per doc — real postings only (tf > 0)
    du = (
        index.postings.filter(F.col("tf") > 0)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("du"))
    )
    seen = F.greatest(_f64("tf") - F.lit(delta), F.lit(0.0))
    d_du = F.lit(delta) * _f64("du")
    per_term = F.log(F.lit(1.0) + seen / (d_du * F.col("p_c")))
    tail = F.log(d_du / _f64("dl"))
    return topk(_lm(index, query_terms, terms, per_term, tail, doc=(du,)), k)


def score_bm25f(
    index: InvertedIndex,
    anchor_tf: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    terms: list[str] | None = None,
    w_anchor: float = 2.0,
    b_body: float = 0.75,
    b_anchor: float = 0.5,
    k1: float = 1.2,
) -> DataFrame:
    """BM25F (Robertson, Zaragoza, Taylor 2004): per-field
    length-normalized term frequencies combined with field weights
    BEFORE one shared saturation —

        x_td = Σ_f w_f · tf_tdf / (1 − b_f + b_f·len_df/avglen_f)
        score = Σ_t idf_t · x_td / (k1 + x_td)

    Fields here: body (the index postings) and incoming anchor text
    (graph.anchor_postings — the linking pages' words describing the
    target, the classic high-precision web field). idf stays the
    body-corpus BM25 idf from term_stats.

    Plan: the isin-pruned per-posting contributions
    (blocks._bm25f_contrib, the scores the BM25F block index stores)
    ⋈ BROADCAST(query terms) → ONE hash agg per (query, doc) → the
    top-k window. Rounded 6dp.
    """
    from search_engine_spark.operators.blocks import _bm25f_contrib

    c = _bm25f_contrib(index, anchor_tf, terms, w_anchor, b_body, b_anchor, k1)
    scored = (
        c.join(F.broadcast(query_terms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("score"), 6).alias("score"))
    )
    return topk(scored, k)


def facet_counts(
    index: InvertedIndex,
    query_terms: DataFrame,
    dims: DataFrame,
    facet: str,
    terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, facet value, n_docs): result facets — how a query's
    matching documents distribute over a dimension column (lang,
    source, domain…), the counts a search frontend renders next to the
    hit list.

    Plan: the isin-pruned broadcast-join match (no postings shuffle)
    → distinct (query, doc) → equi-join the dimension projection on
    doc_id → one hash agg. The dims relation is projected to
    (doc_id, facet) BEFORE the join so the shuffled payload is two
    columns regardless of the table's width.
    """
    m = _matched(index, query_terms, terms)
    hits = m.select("query_id", "doc_id").distinct()
    dim = dims.select("doc_id", F.col(facet).alias("facet"))
    return (
        hits.join(dim, "doc_id")
        .groupBy("query_id", "facet")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def top_hits_by_facet(
    index: InvertedIndex,
    query_terms: DataFrame,
    dims: DataFrame,
    facet: str,
    n: int = 3,
    terms: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, facet, doc_id, score, rn): the top-n hits INSIDE each
    facet bucket — the `terms` aggregation with a `top_hits` sub-agg, the
    "best match per category" view a faceted search frontend renders
    under each filter chip (beyond-reference; the reference serves a
    single flat ranking, app/main.py:51-95).

    Plan: the isin-pruned broadcast-join match (postings never shuffle)
    → one hash agg to per-doc BM25 → equi-join the 2-column facet
    projection → per-(query, bucket) row_number ≤ n. The rank filter
    compiles to WindowGroupLimit, so each shuffle partition keeps only
    its local n candidates per bucket before the final per-bucket sort —
    at 10^12 docs the post-match relation is the only thing shuffled,
    and it is cut to n·|buckets| rows partition-locally. Scores are
    rounded BEFORE the cut so tie-breaks are reproducible across plans.
    """
    scored = _bm25(_matched(index, query_terms, terms), round_dp)
    dim = dims.select("doc_id", F.col(facet).alias("facet"))
    w = Window.partitionBy("query_id", "facet").orderBy(*_by_score())
    ranked = (
        scored.join(dim, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("query_id", "facet", "doc_id", "score", "rn")
    )
    return _sorted(ranked, "query_id", "facet", "rn")


def date_histogram_hits(
    index: InvertedIndex,
    query_terms: DataFrame,
    doc_times: DataFrame,
    interval: str = "day",
    terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, bucket, n_docs): hit counts per time bucket — the
    date_histogram aggregation, the "results over time" sparkline a
    search frontend draws above the hit list (beyond-reference).

    `doc_times` is (doc_id, ts). Plan: isin-pruned broadcast match →
    distinct (query, doc) → equi-join the 2-column time projection →
    date_trunc → one hash agg. Bucketing happens AFTER the join but the
    projection keeps the shuffled payload at two columns; at corpus
    scale the right layout is a ts column in doc_stats so the histogram
    never touches a second table.
    """
    m = _matched(index, query_terms, terms)
    hits = m.select("query_id", "doc_id").distinct()
    tdim = doc_times.select(
        "doc_id", F.date_trunc(interval, F.col("ts")).alias("bucket")
    )
    return (
        hits.join(tdim, "doc_id")
        .groupBy("query_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def significant_terms(
    index: InvertedIndex,
    query_terms: DataFrame,
    k_hits: int = 100,
    top_terms: int = 10,
    terms: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, term, fg_df, bg_df, score): the significant_terms
    aggregation — terms over-represented in a query's result set vs the
    corpus, scored with JLH: (fg% − bg%) · (fg% / bg%)
    (beyond-reference; same foreground/background shape as
    analytics.source_keyness but query-conditioned).

    The foreground is the top-`k_hits` BM25 hits (the sampler-agg
    guard: it bounds the foreground at k·|queries| rows so it is
    BROADCAST into the postings join — the corpus-sized postings
    relation is never shuffled on doc_id). Scores are rounded before
    the per-query top-terms cut; ties break on term ASC.
    """
    scored = _bm25(_matched(index, query_terms, terms), round_dp)
    top_hits = _rank_cut(scored, k_hits, ["query_id"], *_by_score())
    hits = top_hits.select("query_id", "doc_id")
    fg_size = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("fg_size")
    )
    # terms of the foreground docs: broadcast the bounded hit set
    fg = (
        index.postings.join(F.broadcast(hits), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("fg_df"))
    )
    # background df: stream term_stats past the broadcast foreground
    bg = index.term_stats.select("term", F.col("df").alias("bg_df"))
    n = float(index.n_docs)
    fg_pct = F.col("fg_df") / F.col("fg_size")
    bg_pct = F.col("bg_df") / F.lit(n)
    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    ranked = (
        F.broadcast(fg)
        .join(bg, "term")
        .join(F.broadcast(fg_size), "query_id")
        .select(
            "query_id",
            "term",
            "fg_df",
            F.col("bg_df").cast("long").alias("bg_df"),
            F.round(jlh, round_dp).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col("term").asc())
    cut = _rank_cut(ranked, top_terms, ["query_id"], *order)
    return _sorted(cut, "query_id", *order)


def rescore_topk(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    k: int = 10,
    window: int = 50,
    w_base: float = 1.0,
    w_rescore: float = 0.5,
    mu: float = 2000.0,
    round_dp: int = 6,
) -> DataFrame:
    """Two-phase ranking — the rescore-window pattern: a cheap BM25
    first pass selects the top-`window` candidates per query, then an
    LM-Dirichlet second pass re-ranks ONLY that window with
    score = w_base·bm25 + w_rescore·lm (beyond-reference serving).

    This is the standard serving trade at scale: the second pass
    touches window·|queries| rows, so its cost is constant in corpus
    size. The window cut uses rounded scores + the Q7 tie-break so the
    candidate set is reproducible across plans; docs outside the window
    never re-enter (k ≤ window is enforced).
    """
    if k > window:
        raise ValueError(f"k ({k}) must be <= window ({window})")
    qt, terms = _query_terms(spark, queries)
    if not terms:
        return spark.createDataFrame([], _HITS)
    base = _bm25(_matched(index, qt, terms), round_dp, score="base")
    win = _rank_cut(base, window, ["query_id"], *_by_score("base"))
    lm = _lm(index, qt, terms, *_dirichlet(mu)).withColumnRenamed("score", "lm")
    combined = win.join(lm, ["query_id", "doc_id"]).select(
        "query_id",
        "doc_id",
        F.round(
            F.lit(w_base) * F.col("base") + F.lit(w_rescore) * F.col("lm"),
            round_dp,
        ).alias("score"),
    )
    return topk(combined, k)


def facet_counts_after(
    index: InvertedIndex,
    query_terms: DataFrame,
    dims: DataFrame,
    facet: str,
    size: int = 5,
    after: str | None = None,
    terms: list[str] | None = None,
) -> DataFrame:
    """Composite-aggregation pagination: the next `size` facet buckets
    in key order, resuming AFTER a cursor — how a frontend pages
    through an unbounded bucket list without the coordinator holding
    every bucket (beyond-reference).

    The cursor is a plain `facet > after` predicate, so resuming is
    stateless and each page is an independent job; the bucket agg
    itself is facet_counts' broadcast-matched plan. The global
    order-limit is a TakeOrderedAndProject — per-partition heaps of
    `size` rows, not a full sort.
    """
    fc = facet_counts(index, query_terms, dims, facet, terms=terms)
    if after is not None:
        fc = fc.filter(F.col("facet") > after)
    return fc.orderBy("facet").limit(size)


def prefix_terms(index: InvertedIndex, prefix: str) -> DataFrame:
    """(term, df): the dictionary range matching a prefix — the
    wildcard-query primitive (`spar*`). With the index laid out sorted
    by term, `startswith` compiles to a StringStartsWith pushed filter
    and parquet row-group stats skip everything outside the range —
    the Spark analog of a B-tree range scan on the term dictionary
    (plan-asserted in tests/test_plans.py).
    """
    return (
        index.term_stats.filter(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("long").alias("df"))
    )


def _wildcard_grams(pattern: str, k: int = 3) -> list[str]:
    """Boundary-decorated k-grams of a wildcard pattern's fixed
    segments (the '$'-decorated k-gram index of IIR §3.2.2). Lossless
    prune: every dictionary term matching the pattern contains ALL of
    these grams in its own decorated form, so gram containment can only
    over-select — the LIKE post-filter is the correctness guard."""
    segs = pattern.split("*")
    grams: set[str] = set()
    for i, seg in enumerate(segs):
        dec = ("$" if i == 0 else "") + seg + ("$" if i == len(segs) - 1 else "")
        grams.update(dec[j : j + k] for j in range(len(dec) - k + 1))
    return sorted(grams)


def _wildcard_like(pattern: str) -> str:
    """'*'-wildcard → SQL LIKE with %/_/\\ in fixed segments escaped
    (backslash escape — the Spark AND DuckDB default)."""
    esc = (
        pattern.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    )
    return esc.replace("*", "%")


def wildcard_terms(
    index: InvertedIndex,
    pattern: str,
    kgram: int = 3,
    max_expansions: int = 50,
) -> DataFrame:
    """(term, df): dictionary terms matching a general '*' wildcard
    pattern ('s*a*' style), capped at `max_expansions` in term-ASC
    order — Lucene's maxExpansions discipline, so a degenerate pattern
    like '*e*' cannot explode into a million-term OR query. Generalizes
    `prefix_terms` (no reference analog; the reference has no wildcard
    surface).

    Scale shape: everything here is DICTIONARY-sized, never
    corpus-sized, and the whole filter chain is scan-stage Catalyst
    predicates — no explode, no shuffle before the tiny top-limit.
    Anchored fixed segments compile to StartsWith/EndsWith pushed
    filters (on the sorted-by-term index layout the leading anchor
    prunes row groups exactly like prefix_terms' B-tree-range analog);
    interior segments become an AND of Contains over the decorated
    term (the k-gram containment test, evaluated without materializing
    a gram index since the dictionary scan is already cheap); the LIKE
    post-filter guards gram false positives (e.g. out-of-order gram
    hits). Only ≤ max_expansions rows survive to the TakeOrdered.
    """
    segs = pattern.split("*")
    dec = F.concat(F.lit("$"), F.col("term"), F.lit("$"))
    cond = F.lit(True)
    if segs[0]:
        cond = cond & F.col("term").startswith(segs[0])
    if len(segs) > 1 and segs[-1]:
        cond = cond & F.col("term").endswith(segs[-1])
    for g in _wildcard_grams(pattern, kgram):
        cond = cond & dec.contains(g)
    return (
        index.term_stats.filter(cond)
        .filter(F.col("term").like(_wildcard_like(pattern)))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.col("term").asc())
        .limit(max_expansions)
    )


def wildcard_search(
    index: InvertedIndex,
    spark: SparkSession,
    pattern: str,
    k: int = 10,
    kgram: int = 3,
    max_expansions: int = 50,
) -> DataFrame:
    """(query_id=0, doc_id, score): BM25 OR-query over every dictionary
    term the wildcard pattern expands to — `spar*`-style serving.

    Two jobs by construction: the expansion TakeOrdered collects ≤
    max_expansions strings to the driver (what lets `_matched` push the
    isin into the postings scan), then the `score_bm25` pass.
    """
    expansion = wildcard_terms(
        index, pattern, kgram=kgram, max_expansions=max_expansions
    ).collect()
    qt, terms = _query_terms(
        spark, [r["term"] for r in expansion], tokenized=True
    )
    if not terms:
        return spark.createDataFrame([], _HITS)
    return score_bm25(index, qt, k=k, terms=terms)


def write_reversed_dictionary(index: InvertedIndex, path: str) -> None:
    """Materialize the term dictionary keyed by reverse(term) — the
    reverse-B-tree half of IIR §3.2.1's leading-wildcard answer.
    `prefix_terms`/`wildcard_terms` push StartsWith on the
    sorted-by-term layout, but a '*ing' query has no leading anchor
    and degrades to a full dictionary scan; probing a reversed twin
    restores the pushed-range shape. Range-partitioned and sorted by
    rterm so parquet min/max stats skip everything outside the
    reversed prefix range — same build/probe split as
    write_index / build_lsh_index."""
    from search_engine_spark.catalog import write_table

    laid = (
        index.term_stats.select(
            F.reverse(F.col("term")).alias("rterm"),
            "term",
            F.col("df").cast("long").alias("df"),
        )
        .repartitionByRange(F.col("rterm"))
        .sortWithinPartitions("rterm")
    )
    write_table(laid, path)


def suffix_terms(
    spark: SparkSession,
    path: str,
    suffix: str,
    max_expansions: int = 50,
) -> DataFrame:
    """(term, df): dictionary terms ending in `suffix` ('*ing' style),
    capped at `max_expansions` in term-ASC order, served from the
    materialized reversed dictionary. The reversed-suffix StartsWith is
    a pushed StringStartsWith on the range-sorted rterm column
    (plan-asserted) — a B-tree range seek, not a vocabulary scan."""
    rd = spark.read.parquet(path)
    return (
        rd.filter(F.col("rterm").startswith(suffix[::-1]))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.col("term").asc())
        .limit(max_expansions)
    )


def qpp_predictors(
    index: InvertedIndex,
    query_terms: DataFrame,
    terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, n_terms, n_present, avg_idf, max_idf, scq):
    pre-retrieval query-performance prediction — estimate how well a
    query will retrieve BEFORE running it (Zhao/Scholer/Tsegay 2008's
    SCQ family + the idf statistics every QPP survey baselines).
    A serving tier uses this to route hard queries to the expensive
    ranker (full lists / proximity / LTR) and easy ones to the champion
    tier; a query-log pipeline uses it to stratify eval sets.

        SCQ_t = (1 + ln(cf_t)) · idf_t,  scq = Σ_t∈q∩V SCQ_t

    with cf the collection frequency and idf the BM25 idf the index
    already serves. Out-of-vocabulary terms count in n_terms but
    contribute nothing (n_present tracks coverage; all-OOV queries get
    0.0 predictors, not NULL). Cost: term-dimension only — one
    isin-pruned postings agg for cf (the dictionary-seek shape, O(query
    postings) IO on the sorted layout) + a broadcast join against
    term_stats; nothing doc-granular is touched, no retrieval pass.
    """
    qt = query_terms.select("query_id", "term").distinct()
    term_list = terms or [r["term"] for r in qt.select("term").distinct().collect()]
    cf = (
        index.postings.filter(F.col("term").isin(term_list))
        .groupBy("term")
        .agg(F.sum("tf").alias("cf"))
    )
    ts = (
        index.term_stats.filter(F.col("term").isin(term_list))
        .select("term", "bm25_idf")
        .join(cf, "term")
    )
    per = qt.join(F.broadcast(ts), "term", "left")
    zero = F.lit(0.0)
    return per.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.count("bm25_idf").alias("n_present"),
        F.round(F.coalesce(F.avg("bm25_idf"), zero), 6).alias("avg_idf"),
        F.round(F.coalesce(F.max("bm25_idf"), zero), 6).alias("max_idf"),
        F.round(
            F.coalesce(
                F.sum(
                    (F.lit(1.0) + F.log(F.col("cf").cast("double")))
                    * F.col("bm25_idf")
                ),
                zero,
            ),
            6,
        ).alias("scq"),
    )


def rm3_expand(
    index: InvertedIndex,
    docs: DataFrame,
    query_terms: list[str],
    tokenizer=None,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """(term, weight): RM3 pseudo-relevance-feedback query model
    (Lavrenko & Croft 2001 relevance model, interpolated à la RM3).

    Pass 1 retrieves the BM25 top-`fb_docs`; each feedback doc d gets
    weight w_d = score_d / Σscores; the relevance model is
    P_rm(t) = Σ_d w_d · tf(t,d)/dl(d); the final model interpolates
    with the uniform original-query model, weight(t) =
    α·P_rm(t) + (1-α)·1/|q|·[t ∈ q], cut to the top `fb_terms` by
    (weight DESC, term ASC) after `round_dp` rounding so the cut —
    like every comparison here — replays exactly outside Spark.

    Scale shape: PRF is inherently a two-pass barrier, but everything
    that crosses it is tiny — the pass-1 collect is `fb_docs` (id,
    score) scalars (the same k-scalar driver-barrier class as the
    Lloyd/BPE/GD loops), and the feedback docs' term distributions
    come from a doc_id-isin-PRUNED scan of the docs relation (the
    predicate reaches the parquet scan; 10 docs re-tokenized, not the
    corpus — the postings relation is term-partitioned, so probing it
    by doc_id would scan every posting list instead; when a
    doc-partitioned forward index is materialized, operators/forward.py
    serves the same read as a pruned probe with no re-tokenize). No stop-word
    gate is applied beyond the index's own: the corpus tables here are
    pre-filtered tokens, and idf inside the pass-2 scorer already
    crushes high-df expansion terms.
    """
    spark = docs.sparkSession
    qt, qset = _query_terms(spark, query_terms, tokenized=True)
    if not qset:
        return spark.createDataFrame([], "term string, weight double")
    # rounded BEFORE the cut: an unrounded cut can rank sub-1e-6 score
    # twins differently from the replay
    fb = (  # ≤ fb_docs scalars — the PRF barrier
        _bm25(_matched(index, qt, qset), round_dp, score="s")
        .orderBy(*_by_score("s"))
        .limit(fb_docs)
        .collect()
    )
    total = sum(r["s"] for r in fb)
    pq_w = (1.0 - alpha) / len(qset)
    orig = _local(
        spark,
        [(t, pq_w) for t in qset],
        pa.schema([("term", pa.string()), ("pq", pa.float64())]),
    )
    if not fb or total <= 0.0:
        return orig.select(
            "term", F.round(F.col("pq"), round_dp).alias("weight")
        ).orderBy(F.col("weight").desc(), F.col("term").asc()).limit(fb_terms)
    from search_engine_spark.numerics import round_half_up

    wd = _local(
        spark,
        # round_half_up, not builtin round: the oracle's round(s/t, 9)
        # is HALF_UP and Python's builtin is HALF_EVEN (numerics.py)
        [(int(r["doc_id"]), round_half_up(r["s"] / total, 9)) for r in fb],
        pa.schema([("doc_id", pa.int64()), ("w", pa.float64())]),
    )
    ids = [int(r["doc_id"]) for r in fb]
    from search_engine_spark.operators.index_build import raw_postings_from_docs

    fb_tf = raw_postings_from_docs(
        docs.filter(F.col("doc_id").isin(ids)), tokenizer
    ).filter(F.col("term").isNotNull())
    dl = fb_tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    prm = (
        fb_tf.join(F.broadcast(dl), "doc_id")
        .join(F.broadcast(wd), "doc_id")
        .groupBy("term")
        .agg(F.sum(F.col("w") * F.col("tf") / F.col("dl")).alias("prm"))
    )
    model = prm.join(orig, "term", "full_outer").select(
        "term",
        F.round(
            alpha * F.coalesce(F.col("prm"), F.lit(0.0))
            + F.coalesce(F.col("pq"), F.lit(0.0)),
            round_dp,
        ).alias("weight"),
    )
    return (
        model.orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(fb_terms)
    )


def rm3_search(
    index: InvertedIndex,
    docs: DataFrame,
    query_terms: list[str],
    tokenizer=None,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): weighted-BM25 retrieval under the RM3
    expanded model — score(d) = Σ_t weight(t)·idf_t·tf_norm(t,d).

    The expansion terms are collected (≤ fb_terms scalars) so the
    pass-2 probe pushes the literal isin into the postings scan —
    expansion changes WHICH posting lists are read (a few more), not
    HOW.
    """
    exp = rm3_expand(
        index, docs, query_terms, tokenizer,
        fb_docs=fb_docs, fb_terms=fb_terms, alpha=alpha, round_dp=round_dp,
    ).collect()
    spark = docs.sparkSession
    if not exp:
        return spark.createDataFrame([], _HITS)
    terms = [r["term"] for r in exp]
    wdf = _local(spark, [(0, r["term"], float(r["weight"])) for r in exp], _WEIGHTED)
    m = _matched(index, wdf.select("query_id", "term"), terms=terms).join(
        F.broadcast(wdf.select("term", "weight")), "term"
    )
    return topk(_bm25(m, round_dp), k)


def search_after(
    index: InvertedIndex,
    query_terms: list[str],
    k: int = 10,
    after: tuple[float, int] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): one page of BM25 results via KEYSET
    pagination (Elasticsearch search_after) — `after` is the (score,
    doc_id) of the previous page's last hit, and this page is the next
    k rows under the global (score DESC, doc_id ASC) order, i.e. rows
    with score < after.score OR (score = after.score AND doc_id >
    after.doc_id). No reference analog: dastarruer/search-engine serves
    only the first 10.

    Why keyset, not offset: OFFSET p·k pagination materializes and
    ranks p·k+k rows per page — page 1000 of a popular query costs
    1000× page 1. The keyset predicate is applied BEFORE the top-k
    window, so every page costs what page one does. Scores are rounded `round_dp` BEFORE both the cursor filter and the
    cut — the cursor replays exactly across pages and engines (the same
    sub-epsilon-twin hazard the r3 advice flagged for unrounded cuts).
    """
    spark = index.postings.sparkSession
    qt, terms = _query_terms(spark, query_terms, tokenized=True)
    if not terms:
        return spark.createDataFrame([], _HITS)
    scored = _bm25(_matched(index, qt, terms), round_dp)
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < s0)
            | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
    return topk(scored, k)


def champion_postings(index: InvertedIndex, m: int = 32) -> InvertedIndex:
    """Champion lists (a.k.a. top-docs / fancy lists, Manning et al.
    IIR §7.1.3): truncate every posting list to its m highest-impact
    entries, ranked by the BM25 saturation tf_norm (the
    doc-dependent factor of the score; bm25_idf is constant within a
    term), ties doc_id ASC.

    Serving over champions reads O(m) postings per query term instead
    of O(df) — the standard answer to head terms whose lists are
    millions long, at the price of approximation (a doc outside every
    query term's champion list can't be retrieved; for k ≤ m and
    single-term queries the top-k is exact). Stats are NOT rescaled:
    champions are the same postings the full index scored, just fewer,
    so champion scores equal full scores for every surviving doc.

    Scale shape: one rank-limit window keyed by term. Catalyst rewrites
    row_number ≤ m into WindowGroupLimit — a per-partition group-limit
    BEFORE the exchange — so at most m rows per term per input
    partition shuffle, never the full posting lists. Over the
    write_index term-partitioned layout the window is shuffle-free.

    Reference analog: none (the reference always scores full lists,
    app/main.py:58-73) — engine-side serving surface.
    """
    champs = _rank_cut(
        index.postings, m, ["term"], F.col("tf_norm").desc(),
        F.col("doc_id").asc(),
    )
    return replace(index, postings=champs)


def champion_search(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    m: int = 32,
    k: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): BM25 top-k over champion lists only.

    The champion cut composes with the dictionary-seek probe: the isin
    prune reaches the scan first (only the query terms' lists are
    read), then each surviving list is truncated to its m champions
    before scoring.
    """
    qt, terms = _query_terms(spark, queries)
    if not terms:
        return spark.createDataFrame([], _HITS)
    champ = champion_postings(
        replace(index, postings=index.postings.filter(F.col("term").isin(terms))),
        m=m,
    )
    return topk(_bm25(_matched(champ, qt, terms), round_dp), k)


def tiered_search(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    m: int = 32,
    k: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score): tiered retrieval (Manning et al. IIR
    §7.2.1) — serve from the champion tier; any query that the tier
    cannot FILL with k results re-runs against the full lists. The
    common case touches O(m) postings per term; the exact-BM25
    guarantee is kept for every under-filled query.

    The tier decision is one k·|queries|-row collect (top-k output,
    scalar-sized at any corpus scale); the filled queries are served
    from those collected rows, so reading the result never re-runs the
    champion query, and fallback queries re-run the full-list BM25.
    Under-filled ≠ differently-ranked:
    a filled champion top-k can still differ from full BM25 (champion
    docs only) — that approximation is the documented price of the
    tier, identical to champion_search.
    """
    if isinstance(queries, list):
        queries = dict(enumerate(queries))
    tier1 = champion_search(index, spark, queries, m=m, k=k, round_dp=round_dp)
    filled = {qid: 0 for qid in queries}
    t1_rows = tier1.collect()
    for r in t1_rows:
        filled[r["query_id"]] += 1
    refill = {qid: q for qid, q in queries.items() if filled[qid] < k}
    kept = [
        (r["query_id"], r["doc_id"], float(r["score"]))
        for r in t1_rows
        if r["query_id"] not in refill
    ]
    kept_df = _local(spark, kept, _HITS_PA)
    qt, terms = _query_terms(spark, refill)
    if not terms:  # nothing to refill, or only term-less queries
        return kept_df
    scored = _bm25(_matched(index, qt, terms), round_dp)
    tier2 = _rank_cut(scored, k, ["query_id"], *_by_score())
    return _sorted(kept_df.unionByName(tier2), "query_id", *_by_score())


def msm_search(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    k: int = 10,
    min_should_match: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """minimum_should_match serving: BM25 OR-retrieval, but a doc only
    qualifies when it matches >= `min_should_match` DISTINCT query
    terms — the middle ground between the reference's OR-only serving
    (app/main.py:67, quirk Q9) and the AND mode of `score_bm25`.

    The m-of-n constraint is a post-aggregation filter on the per-doc
    matched-term count, so it adds ZERO shuffles and shrinks the top-k
    window input — at 100 TB the filter drops the long tail of 1-term
    matches before the per-query rank window.
    """
    qt, terms = _query_terms(spark, queries)
    if not terms:
        return spark.createDataFrame([], _HITS)
    m = _matched(index, qt, terms)
    return topk(_bm25(m, round_dp, min_match=min_should_match), k)


def synonym_search(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    synonyms: dict[str, list[str]],
    k: int = 10,
    syn_weight: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Query-time synonym expansion: each query term contributes at
    weight 1.0 and its thesaurus synonyms at `syn_weight`; per-doc
    score = Σ_t w_t · idf_t · tf_norm_t. When an expansion collides
    with an original term (or two originals share a synonym) the MAX
    weight wins, so expansion can never down-weight a user term.

    The expansion happens driver-side (queries and thesaurus rows are
    tiny) into a weighted 3-column term table. The synonym table itself
    never touches an executor, which is what you want when the
    thesaurus lives in a config store rather than the cluster.
    """
    rows: list[tuple[int, str, float]] = []
    for qid, originals in _tokenized(queries).items():
        weights = dict.fromkeys(originals, 1.0)
        for t in originals:
            for s in synonyms.get(t, []):
                weights[s] = max(weights.get(s, 0.0), syn_weight)
        rows += [(qid, term, w) for term, w in weights.items()]
    if not rows:
        return spark.createDataFrame([], _HITS)
    qt = _local(spark, rows, _WEIGHTED)
    terms = sorted({r[1] for r in rows})
    return topk(_bm25(_matched(index, qt, terms), round_dp), k)


def decay_search(
    index: InvertedIndex,
    spark: SparkSession,
    queries: dict[int, str] | list[str],
    doc_ages: DataFrame,
    k: int = 10,
    half_life: float = 30.0,
    round_dp: int = 6,
) -> DataFrame:
    """Recency-boosted serving (the function_score exponential-decay
    analog): score = bm25 · 0.5^(age_days / half_life), applied BEFORE
    the top-k cut so fresh documents can displace stale high-BM25 ones.

    `doc_ages` is (doc_id, age_days) — corpus-sized, so it is NOT
    broadcast: the multiply joins it against the per-doc aggregate
    (already restricted to matching docs) on doc_id. At serving scale
    the better layout is to fold the decay multiplier into `doc_stats`
    as a doc-prior column at build/refresh time — the same score×prior
    fusion `graph.fused_bm25_pagerank` uses — and this operator is the
    query-time form for priors that change faster than the index
    (freshness does; PageRank doesn't).
    """
    if not half_life > 0:
        raise ValueError(f"half_life must be > 0, got {half_life}")
    qt, terms = _query_terms(spark, queries)
    if not terms:
        return spark.createDataFrame([], _HITS)
    relevance = _bm25(_matched(index, qt, terms), score="relevance")
    decayed = relevance.join(doc_ages, "doc_id").select(
        "query_id",
        "doc_id",
        F.round(
            F.col("relevance")
            * F.pow(F.lit(0.5), F.col("age_days") / F.lit(float(half_life))),
            round_dp,
        ).alias("score"),
    )
    return topk(decayed, k)
