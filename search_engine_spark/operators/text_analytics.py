"""Text-analytics operators over a plain-token corpus (documents table).

These are the SQL-expressible building blocks of the index pipeline
(SURVEY §2.4 A1-A6, §2.5 W1) plus the training-data-pipeline extras
(language-ID heuristic, quality scoring, token counting, document
fingerprinting). Everything here is pure Catalyst column code — no
Python UDFs — so the whole stage compiles to whole-stage codegen and
each aggregation gets map-side partial combine for free.

Tokenization here is a plain single-space split (the `documents` test
table is pre-tokenized text); the web-pages pipeline uses the
reference-semantics pandas UDF from functions/textproc.py instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.operators.index_build import B, K1, _bm25_idf, _tf_norm
from search_engine_spark.operators.query import _rank_cut


def ws_tokens(c: Column) -> Column:
    """array<string> of non-empty single-space-split tokens (JVM-side)."""
    return F.filter(F.split(c, " "), lambda x: x != F.lit(""))


def tokens_df(documents: DataFrame) -> DataFrame:
    """(doc_id, term) one row per token occurrence."""
    return documents.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    )


def term_tf(documents: DataFrame) -> DataFrame:
    """A1: per-(doc, term) raw count."""
    return (
        tokens_df(documents)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_df(documents: DataFrame) -> DataFrame:
    """A2: document frequency per term."""
    return term_tf(documents).groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def term_idf(documents: DataFrame) -> DataFrame:
    """A4: idf = log10(N/df), rounded to 6dp for oracle comparison."""
    n = documents.count()
    return term_df(documents).select(
        "term",
        "df",
        F.round(F.log10(F.lit(float(n)) / F.col("df")), 6).alias("idf"),
    )


def doc_lengths(documents: DataFrame) -> DataFrame:
    """A3-adjacent: token count per doc."""
    return tokens_df(documents).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl")
    )


def tfidf_topk(documents: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """Reference ranking (A6/W1): SUM(tf·idf)·COUNT(term), top-k.

    Literal term filter applied before the df join → at scale this is a
    pushed-down scan predicate, and the df side is broadcast.
    """
    n = documents.count()
    tf = term_tf(documents).filter(F.col("term").isin(terms))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # NB: df computed over the full corpus equals df over the filtered tf
    # because the filter is term-equality — no docs are lost per term.
    idf = F.log10(F.lit(float(n)) / F.col("df"))
    return (
        tf.join(F.broadcast(df), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * idf) * F.count(F.lit(1)), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_topk(
    documents: DataFrame, terms: list[str], k: int = 10,
    k1: float = K1, b: float = B, mode: str = "or",
) -> DataFrame:
    """BM25 top-k over the plain-token corpus, pure column math.

    mode='and' → conjunctive: only docs matching ALL query terms (the
    posting-list intersection as a post-aggregation HAVING — same
    single shuffle as OR)."""
    tf = term_tf(documents)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    row = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n, avgdl = int(row["n"]), float(row["avgdl"])
    matched = tf.filter(F.col("term").isin(terms))
    df = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        matched.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(_bm25_idf(n) * _tf_norm(avgdl, k1, b)), 6).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
    if mode == "and":
        scored = scored.filter(F.col("n_matched") == len(set(terms)))
    return (
        scored.drop("n_matched")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


# ---- training-data-pipeline extras ----------------------------------------

def quality_stats(documents: DataFrame) -> DataFrame:
    """Quality scoring: token count + mean token length per doc."""
    return (
        tokens_df(documents)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.length("term").cast("double")), 6).alias("avg_token_len"),
        )
    )


_EN_FUNCTION_WORDS = ["the", "a", "of", "is", "and", "to", "in", "that", "it", "for"]


def langid_score(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic: fraction of tokens that are English
    function words (n-gram-free variant suited to the token corpus)."""
    t = tokens_df(documents)
    is_en = F.when(F.col("term").isin(_EN_FUNCTION_WORDS), 1).otherwise(0)
    return t.groupBy("doc_id").agg(
        F.round(
            F.sum(is_en).cast("double") / F.count(F.lit(1)), 6
        ).alias("en_score")
    )


# Character-trigram language profiles built from small common-word
# lists (public knowledge). The profile derivation is shared with the
# DuckDB oracle (entry module embeds the same trigrams), so the
# classifier is value-checkable end to end.
_LANG_WORDS = {
    "en": "the and of to in that it is was for on are with as his they at be "
          "this have from one had word but not what all were when your can said".split(),
    "de": "der die und in den von zu das mit sich des auf für ist im dem nicht "
          "ein eine als auch es an werden aus er hat dass sie nach wird bei".split(),
    "fr": "le la et les des en un du une que est pour qui dans par plus pas au "
          "sur ne se ce il sont avec son ses mais comme ou si leur dont".split(),
}


def lang_trigram_profiles() -> list[tuple[str, str]]:
    """(lang, trigram) rows — distinct character trigrams of each
    language's common-word text (spaces included: boundary trigrams like
    'th'+' ' carry most of the signal)."""
    out = []
    for lang, words in _LANG_WORDS.items():
        text = " " + " ".join(words) + " "
        tris = {text[i : i + 3] for i in range(len(text) - 2)}
        out.extend((lang, t) for t in sorted(tris))
    return out


def langid_ngram(documents: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, hit_ratio): character-trigram language ID.

    Doc trigrams (distinct, lowercased) join a broadcast profile table;
    score per language = matching trigrams / doc's distinct trigrams;
    argmax with (score DESC, lang ASC) tie-break. All JVM-side: the
    trigram explode is the substring/sequence trick, the classify step
    one broadcast join + two aggs.
    """
    spark = documents.sparkSession
    profiles = F.broadcast(
        spark.createDataFrame(lang_trigram_profiles(), "plang string, tri string")
    )
    lowered = documents.select("doc_id", F.lower(F.col("text")).alias("t"))
    tris = (
        lowered.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("t") - 2, F.lit(1))),
                    lambda i: F.col("t").substr(i, F.lit(3)),
                )
            ).alias("tri"),
        )
        .filter(F.length("tri") == 3)
        .distinct()
    )
    n_tris = tris.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tri"))
    hits = (
        tris.join(profiles, "tri")
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    scored = hits.join(n_tris, "doc_id").select(
        "doc_id",
        "plang",
        (F.col("hits") / F.col("n_tri")).alias("_raw"),
    )
    # order by the RAW ratio (oracle does too); round only for output
    return (
        _rank_cut(scored, 1, ["doc_id"], F.col("_raw").desc(), F.col("plang").asc())
        .select(
            "doc_id",
            F.col("plang").alias("pred_lang"),
            F.round(F.col("_raw"), 6).alias("hit_ratio"),
        )
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 of the raw text bytes."""
    return documents.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the GPT-2-style split shape, restricted to a regex dialect
# identical under Java regex (Spark) and RE2 (DuckDB oracle).
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_counts_bpe(documents: DataFrame) -> DataFrame:
    """(doc_id, n_ws, n_bpe): whitespace vs BPE-ish-regex token counts —
    the two training-pipeline budget estimators, both JVM-side."""
    return documents.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_ws"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
        .alias("n_bpe"),
    )


def rolling_fingerprints(
    documents: DataFrame, k: int = 7, window: int = 4
) -> DataFrame:
    """(doc_id, fp): winnowing document fingerprints.

    Karp-Rabin polynomial hash over character k-grams (mod M31 = 2^31-1,
    base 257 — per-step products < 2^40, so the vectorized uint64 math
    below never wraps; the shared constants live in operators/hashing.py
    and the DuckDB oracle computes the identical values) + window-minimum
    sampling (the standard near-dup/plagiarism sketch): every k-gram
    hash is computed with one vectorized numpy pass, then each sliding
    window of `window` hashes contributes its minimum; distinct minima
    form the fingerprint set. Guarantee: any shared byte substring of
    length >= k + window - 1 between two docs yields a shared
    fingerprint. mapInPandas (narrow, Arrow-batched) → explode to one
    row per fingerprint, ready for the same groupBy-join dedup shapes as
    MinHash buckets. The 31-bit range trades collision margin for
    portable exact-verifiability; collisions only add false bucket
    candidates, which downstream verification rejects.
    """
    import numpy as np
    import pandas as pd

    from search_engine_spark.operators.hashing import M31, kr_powers

    M = np.uint64(M31)

    def gen(batches):
        for pdf in batches:
            ids, fps = [], []
            powers = np.array(kr_powers(k), dtype=np.uint64)
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                if len(s) < k:
                    continue
                # h[i] = sum s[i+j] * B^(k-1-j) mod M; s*p < 2^40 — no wrap
                n = len(s) - k + 1
                h = np.zeros(n, dtype=np.uint64)
                for j in range(k):  # k (small) vectorized passes over n
                    h = (h + s[j : j + n] * powers[j]) % M
                if n >= window:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        h, window
                    ).min(axis=1)
                else:
                    mins = np.array([h.min()], dtype=np.uint64)
                for fp in np.unique(mins):
                    ids.append(doc_id)
                    fps.append(int(fp))
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    return documents.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, fp long"
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """One-row corpus profile: doc count, vocabulary size, total tokens,
    mean/median/p95 document length — the summary a pipeline operator
    prints before/after each cleaning stage. Two shuffles (doc agg +
    global agg); the exact interpolated percentile matches DuckDB's
    quantile_cont definition, so the row is value-oracled."""
    dl = doc_lengths(documents)
    vocab = term_df(documents).agg(F.count(F.lit(1)).alias("v")).collect()[0]["v"]
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.lit(int(vocab)).alias("vocab_size"),
        F.sum("dl").alias("total_tokens"),
        F.round(F.avg("dl"), 6).alias("avg_dl"),
        F.round(F.expr("percentile(dl, 0.5)"), 6).alias("p50_dl"),
        F.round(F.expr("percentile(dl, 0.95)"), 6).alias("p95_dl"),
    )


def token_counts_by(documents: DataFrame, key: str) -> DataFrame:
    """Token counting rolled up by an arbitrary column (e.g. lang)."""
    return (
        documents.select(key, F.explode(ws_tokens(F.col("text"))).alias("term"))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )


def top_terms(documents: DataFrame, n: int = 100) -> DataFrame:
    """Vocabulary head: (term, cf, df) for the n most frequent terms.

    The seed list a tokenizer-vocabulary or stop-list builder starts
    from. Two narrow-waisted shuffles: token occurrences pre-aggregate
    to (doc_id, term, tf) with map-side combine (the same A1 relation
    the index build uses), then roll up to cf = Σtf, df = count(*) per
    term — deliberately NOT count(*) + count(distinct doc_id) in one
    agg, which Catalyst plans as an Expand that duplicates every token
    row. Deterministic total order (cf DESC, term ASC) so the cut at n
    is reproducible; the final top-n is a TakeOrdered over partial
    per-partition heaps, not a global sort of the vocabulary.
    """
    return (
        term_tf(documents)
        .groupBy("term")
        .agg(
            F.sum("tf").cast("long").alias("cf"),
            F.count(F.lit(1)).alias("df"),
        )
        .orderBy(F.col("cf").desc(), F.col("term").asc())
        .limit(n)
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_logp): mean log10 unigram probability of
    each doc under the corpus's OWN unigram LM — the classic cheap
    perplexity proxy for quality filtering (template/boilerplate docs
    score high; gibberish and OCR noise score low, because their
    tokens are corpus-rare).

    Plan: the A1 (doc_id, term, tf) relation feeds both sides — corpus
    counts roll up per term (one shuffle), then join back on term (the
    LM side is vocab-sized; AQE broadcasts it when small, sort-merge
    otherwise) and aggregate per doc. The corpus total T is one driver
    scalar off the term rollup. No Python anywhere.
    """
    from pyspark.storagelevel import StorageLevel

    tf = term_tf(documents).persist(StorageLevel.MEMORY_AND_DISK)
    lm = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    t_total = lm.agg(F.sum("cf").cast("long").alias("t")).first()["t"] or 0
    logp = F.log10(F.col("cf").cast("double") / F.lit(float(t_total or 1)))
    out = (
        tf.join(lm, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * logp) / F.sum("tf"), 6
            ).alias("avg_logp"),
        )
    )
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    tf.unpersist()
    lm.unpersist()
    return out


def source_mix(documents: DataFrame) -> DataFrame:
    """Per-source mixture table: (source, n_docs, n_tokens, doc_share,
    token_share) — the weighting table a pretraining data mixer
    consumes to set per-source sampling rates.

    One shuffle on source; the share denominators are a window over the
    per-source aggregate, which is tiny (one row per source) by
    construction, so the unpartitioned window never sees more rows than
    there are sources.
    """
    from pyspark.sql import Window

    per = documents.select(
        "source", F.size(ws_tokens(F.col("text"))).alias("ntok")
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias(
            "token_share"
        ),
    )


def term_pmi(index, min_pairs: int = 5, k: int = 50) -> DataFrame:
    """(term_a, term_b, n_ab, pmi): the top-k term pairs by pointwise
    mutual information ln(n·c_ab / (c_a·c_b)) over document-level
    co-occurrence — the classic query-expansion / related-terms signal
    (no reference analog; dastarruer/search-engine has no expansion).

    Built FROM the inverted index: postings are already the distinct
    (term, doc_id) relation and term_stats carries df, so the only new
    work is the pair count — a self-join of postings on doc_id
    restricted to term_a < term_b, one hash agg. That join is
    quadratic in per-document DISTINCT VOCABULARY terms, which is why
    the intended composition at scale is `term_pmi(prune_index(idx))`:
    the df band caps both the hapax tail (pairs that can never reach
    min_pairs) and the stopword head (pairs with no information), and
    what remains is bounded by content-term density, not page length.
    Ties break (pmi DESC, term_a ASC, term_b ASC); pmi rounds 6dp.

    The df joins are broadcast-hinted because the pruned vocabulary's
    term_stats is small (content terms, ≤~10^6 rows); feeding an
    unpruned 10^8-term web vocabulary here would need the hint removed
    — and would be the wrong query anyway (see the min_pairs note).
    """
    n = index.n_docs
    toks = index.postings.select("term", "doc_id")
    a = toks.select(F.col("term").alias("term_a"), "doc_id")
    b = toks.select(F.col("term").alias("term_b"), "doc_id")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    df_a = index.term_stats.select(
        F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    df_b = index.term_stats.select(
        F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    scored = (
        pairs.join(F.broadcast(df_a), "term_a")
        .join(F.broadcast(df_b), "term_b")
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.lit(float(n)))
                    / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("term_a").asc(), F.col("term_b").asc()
    ).limit(k)


def vocab_growth(documents: DataFrame, band_size: int = 100) -> DataFrame:
    """(band, new_terms, cum_terms): Heaps'-law vocabulary growth —
    how many NEW distinct terms each band of `band_size` documents
    (by doc_id order) introduces, with the running total. The curve a
    tokenizer-sizing / vocabulary-budget decision reads before BPE
    training.

    new_terms attributes each term to the band of its FIRST doc_id —
    one distinct-agg shuffle on term; the cumulative sum then runs
    over n_bands rows (corpus-size-independent), so the single
    unpartitioned window is a scalar-sized tail, not a corpus sort.
    All counts integral.
    """
    first = tokens_df(documents).groupBy("term").agg(
        F.min("doc_id").alias("first_doc")
    )
    per_band = (
        first.groupBy(
            F.floor(F.col("first_doc") / F.lit(float(band_size)))
            .cast("long")
            .alias("band")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    return per_band.select(
        "band", "new_terms", F.sum("new_terms").over(w).alias("cum_terms")
    )


def df_histogram(documents: DataFrame) -> DataFrame:
    """(bin, n_terms, min_df, max_df): log2-binned document-frequency
    histogram of the vocabulary — the head/tail shape that decides
    stop-listing, champion-list m, and posting-partition salting.

    bin = ⌊log2 df⌋ computed as length(bin(df)) - 1 — pure integer
    string length, so the binning is exact at every power-of-two
    boundary (float log2 is off-by-ulp exactly there). One term-keyed
    agg + one ≤64-row agg.
    """
    df_rel = term_df(documents)
    binned = df_rel.select(
        (F.length(F.bin(F.col("df"))) - F.lit(1)).cast("long").alias("bin"),
        "df",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.min("df").alias("min_df"),
        F.max("df").alias("max_df"),
    )


def more_like_this(
    documents: DataFrame,
    doc_id: int,
    n_terms: int = 10,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(doc_id, score): query-by-document — the source doc's top
    `n_terms` terms by tf·BM25-idf become an OR query, scored with
    plain BM25 over the corpus minus the source doc. The standard
    "more like this" serving feature (Elasticsearch MLT, Lucene
    MoreLikeThis) expressed as two declarative passes.

    Scale shape: term selection is a doc_id-equality scan (pushed to
    the parquet reader) joined to the term-dim df table; only the
    n_terms winning strings cross the driver, re-entering as an isin
    scan predicate — the same dictionary-seek prune as every other
    query path. No corpus-sized collect anywhere.

    Determinism: term weights rounded 6dp, ties break term ASC; final
    scores rounded 6dp, ties doc_id ASC (quirk Q7).
    """
    tf = term_tf(documents)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    row = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = int(row["n"]), float(row["avgdl"])
    df_all = term_tf(documents).groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    sel = (
        tf.filter(F.col("doc_id") == doc_id)
        .join(df_all, "term")
        .select(
            "term",
            F.round(F.col("tf") * _bm25_idf(n), 6).alias("w"),
        )
        .orderBy(F.col("w").desc(), F.col("term").asc())
        .limit(n_terms)
        .collect()
    )
    terms = [r["term"] for r in sel]
    matched = tf.filter(F.col("term").isin(terms))
    # df over matched == full-corpus df per term (term-equality filter)
    dfq = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        matched.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(_bm25_idf(n) * _tf_norm(avgdl, k1, b)), 6).alias("score"))
        .filter(F.col("doc_id") != doc_id)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def highlight_snippet(
    documents: DataFrame,
    terms: list[str],
    width: int = 20,
    lead: int = 5,
    tag_open: str = "<b>",
    tag_close: str = "</b>",
) -> DataFrame:
    """(doc_id, first_pos, snippet): a `width`-token snippet window
    starting `lead` tokens before the FIRST query-term hit, with every
    query-term occurrence inside the window wrapped in highlight tags —
    the result-page presentation step for the pre-tokenized documents
    table (the HTML pages path has its own reference-quirk snippet
    generator in functions/presentation.py). Docs with no hit are
    dropped (serving only highlights hits).

    Plan shape: pure Catalyst array expressions inside the scan stage —
    first-hit index via filter(sequence)[0] over the token array, the
    window via slice, tagging via transform — no Python UDF, no
    shuffle; this composes with a top-k join without adding exchanges.
    """
    # terms and tags enter as literal values, never as SQL text
    tarr = F.array(*[F.lit(t) for t in terms])
    t = F.col("t")
    toks = documents.select(
        "doc_id", ws_tokens(F.col("text")).alias("t")
    )
    # get(), not [0]: ANSI mode raises on indexing the empty no-hit array
    first = F.get(
        F.filter(
            F.sequence(F.lit(0), F.size(t) - 1),
            lambda i: F.array_contains(tarr, t[i]),
        ),
        0,
    )
    hit = toks.select("doc_id", "t", first.alias("first_pos")).filter(
        F.col("first_pos").isNotNull()
    )
    start0 = F.greatest(F.lit(0), F.col("first_pos") - lead)
    snippet = F.array_join(
        F.transform(
            "win",
            lambda x: F.when(
                F.array_contains(tarr, x),
                F.concat(F.lit(tag_open), x, F.lit(tag_close)),
            ).otherwise(x),
        ),
        " ",
    )
    return (
        hit.withColumn("win", F.slice("t", start0 + 1, width))
        .select(
            "doc_id",
            F.col("first_pos").cast("int").alias("first_pos"),
            snippet.alias("snippet"),
        )
    )


def _xlogx(c: Column) -> Column:
    """x·ln(x) with the 0·ln0 = 0 convention (entropy arithmetic)."""
    d = c.cast("double")
    return F.when(d > 0, d * F.log(d)).otherwise(F.lit(0.0))


def collocations_llr(
    documents: DataFrame,
    min_count: int = 5,
    k: int = 50,
    round_dp: int = 6,
) -> DataFrame:
    """(a, b, n_ab, llr): the top-k collocations — ADJACENT bigrams
    whose co-occurrence beats independence — by Dunning's (1993)
    log-likelihood ratio, the statistic that stays calibrated for rare
    words where PMI explodes (term_pmi is the document-co-occurrence
    complement; this is the sequence-adjacent one). For the 2×2
    contingency table (k11=count(ab), row a-first, column b-second,
    N=total bigrams): LLR = 2·[Σ xlogx(k_ij) − Σ xlogx(rows) −
    Σ xlogx(cols) + xlogx(N)]. Ties (llr DESC, a ASC, b ASC) after
    `round_dp` rounding, so the cut replays exactly.

    Plan shape: bigrams are formed INSIDE the scan stage by a JVM
    transform over each doc's token array (no posexplode self-join, no
    per-row Python), then one hash agg to (a,b) counts — everything
    after operates on the BIGRAM-VOCABULARY relation: two margin aggs,
    two vocab-sized joins, and a 1-row broadcast of N. The LLR itself
    is per-row column code on integer counts, bit-identical in any
    engine.
    """
    toks = documents.select(ws_tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-2),"
                " i -> struct(t[i] AS a, t[i+1] AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("k11"))
    ra = big.groupBy("a").agg(F.sum("k11").alias("ra"))
    rb = big.groupBy("b").agg(F.sum("k11").alias("rb"))
    n = big.agg(F.sum("k11").alias("n"))
    j = (
        big.filter(F.col("k11") >= min_count)
        .join(ra, "a")
        .join(rb, "b")
        .crossJoin(F.broadcast(n))
    )
    k11 = F.col("k11")
    k12 = F.col("ra") - k11
    k21 = F.col("rb") - k11
    k22 = F.col("n") - F.col("ra") - F.col("rb") + k11
    llr = 2.0 * (
        _xlogx(k11) + _xlogx(k12) + _xlogx(k21) + _xlogx(k22)
        - _xlogx(F.col("ra")) - _xlogx(F.col("n") - F.col("ra"))
        - _xlogx(F.col("rb")) - _xlogx(F.col("n") - F.col("rb"))
        + _xlogx(F.col("n"))
    )
    return (
        j.select(
            "a",
            "b",
            k11.cast("long").alias("n_ab"),
            F.round(llr, round_dp).alias("llr"),
        )
        .orderBy(F.col("llr").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(k)
    )


def source_keyness(
    documents: DataFrame,
    group_col: str = "source",
    min_count: int = 10,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """(source, term, n, llr): each group's top-k KEY terms — the terms
    whose frequency in that group beats the rest of the corpus by
    Dunning log-likelihood (one-vs-rest keyness, the corpus-linguistics
    standard; Rayson & Garside 2000) — "what characterizes each crawl
    source/domain/language slice", the per-group complement to the
    per-document TextRank keywords. Same 2×2 xlogx identity as
    collocations_llr with rows = (in group, out of group) token masses.
    Ties (llr DESC, term ASC) after rounding; groups with fewer than
    k qualifying terms return what they have.

    Plan shape: one tokenize scan → (group, term) hash agg; margins are
    a GROUPS-sized relation (broadcast) and a vocabulary-sized one
    (shuffle join on term); the LLR is per-row integer column code and
    the cut one window over the group-vocabulary relation. Nothing
    corpus-sized crosses a join.
    """
    tok = documents.select(
        F.col(group_col).alias("g"),
        F.explode(ws_tokens(F.col("text"))).alias("term"),
    )
    ct = tok.groupBy("g", "term").agg(F.count(F.lit(1)).alias("ca"))
    per_g = ct.groupBy("g").agg(F.sum("ca").alias("ta"))
    per_t = ct.groupBy("term").agg(F.sum("ca").alias("ct_all"))
    n = ct.agg(F.sum("ca").alias("n"))
    j = (
        ct.filter(F.col("ca") >= min_count)
        .join(F.broadcast(per_g), "g")
        .join(per_t, "term")
        .crossJoin(F.broadcast(n))
    )
    k11 = F.col("ca")
    k12 = F.col("ta") - k11
    k21 = F.col("ct_all") - k11
    k22 = F.col("n") - F.col("ta") - F.col("ct_all") + k11
    llr = 2.0 * (
        _xlogx(k11) + _xlogx(k12) + _xlogx(k21) + _xlogx(k22)
        - _xlogx(F.col("ta")) - _xlogx(F.col("n") - F.col("ta"))
        - _xlogx(F.col("ct_all")) - _xlogx(F.col("n") - F.col("ct_all"))
        + _xlogx(F.col("n"))
    )
    # signed keyness: positive only when the group OVER-represents the
    # term (LLR itself is two-sided)
    signed = F.when(
        k11 * F.col("n") >= F.col("ta") * F.col("ct_all"), llr
    ).otherwise(-llr)
    ranked = j.select(
        F.col("g").alias(group_col),
        "term",
        k11.cast("long").alias("n"),
        F.round(signed, round_dp).alias("llr_r"),
    )
    return _rank_cut(
        ranked, k, [group_col], F.col("llr_r").desc(), F.col("term").asc()
    ).withColumnRenamed("llr_r", "llr")


def divergence_contrib(docs_a: DataFrame, docs_b: DataFrame) -> DataFrame:
    """(term, p_a, p_b, contrib): per-term Jensen-Shannon divergence
    contributions between the unigram (collection-frequency)
    distributions of two corpora — contrib(t) = ½·[xlog(p,m) +
    xlog(q,m)] with m=(p+q)/2 and xlog(x,m)=x·ln(x/m) for x>0 else 0,
    so Σ contrib = JS(P‖Q) ∈ [0, ln 2]. The training-data drift monitor:
    which terms moved between last month's crawl and this month's, and
    how much distribution shift accumulated (Lin 1991; standard corpus-
    drift practice). Probabilities and contributions are UNROUNDED here
    so downstream sums stay exact; round at presentation.

    Plan shape: one tokenize+hash-agg per side (map-side combined), a
    full-outer join of the two VOCABULARY-sized count relations, and a
    1-row broadcast of each side's total token count. Nothing
    corpus-sized crosses the join — this runs at any corpus scale for
    the cost of two scans.
    """
    ca = (
        tokens_df(docs_a).groupBy("term").agg(F.count(F.lit(1)).alias("ca"))
    )
    cb = (
        tokens_df(docs_b).groupBy("term").agg(F.count(F.lit(1)).alias("cb"))
    )
    ta = ca.agg(F.sum("ca").alias("ta"))
    tb = cb.agg(F.sum("cb").alias("tb"))
    j = (
        ca.join(cb, "term", "full_outer")
        .select(
            "term",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    p = F.col("ca") / F.col("ta")
    q = F.col("cb") / F.col("tb")
    m = (p + q) / F.lit(2.0)
    xlog_p = F.when(F.col("ca") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    xlog_q = F.when(F.col("cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    return j.select(
        "term",
        p.alias("p_a"),
        q.alias("p_b"),
        (F.lit(0.5) * (xlog_p + xlog_q)).alias("contrib"),
    )


def corpus_divergence(
    docs_a: DataFrame, docs_b: DataFrame, top_n: int = 50, round_dp: int = 6
) -> DataFrame:
    """Top-`top_n` drifted terms by JS contribution (DESC, term ASC),
    rounded for exact replay. The "what changed" report row."""
    d = divergence_contrib(docs_a, docs_b)
    return (
        d.select(
            "term",
            F.round("p_a", round_dp).alias("p_a"),
            F.round("p_b", round_dp).alias("p_b"),
            F.round("contrib", round_dp).alias("contrib"),
        )
        .orderBy(F.col("contrib").desc(), F.col("term").asc())
        .limit(top_n)
    )


def js_divergence(
    docs_a: DataFrame, docs_b: DataFrame, round_dp: int = 6
) -> DataFrame:
    """One row (n_terms, js): total Jensen-Shannon divergence between
    two corpora plus union-vocabulary size — the scalar a drift alarm
    thresholds on. Sums the unrounded per-term contributions."""
    return divergence_contrib(docs_a, docs_b).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.sum("contrib"), round_dp).alias("js"),
    )


def zipf_fit(documents: DataFrame) -> DataFrame:
    """ONE row (n_terms, slope, intercept, r2): OLS fit of
    log10(df) ~ log10(rank) over the document-frequency-ranked
    vocabulary — the Zipf-law diagnostic that sizes stop lists,
    champion-list m, BPE vocabularies, and posting-salt thresholds
    (a slope near −1 says the head is as heavy as the web's).

    Rank ties break (df DESC, term ASC) so the fit is deterministic;
    the regression is one rank window over the VOCABULARY (dictionary-
    sized, never the corpus) + one 6-scalar aggregate — closed-form
    OLS, no iteration. r2 is 0.0 for degenerate vocabularies (<2 terms
    or zero variance).
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    xy = (
        term_df(documents)
        .withColumn("rank", F.row_number().over(w))
        .select(
            F.log10(F.col("rank").cast("double")).alias("x"),
            F.log10(F.col("df").cast("double")).alias("y"),
        )
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(varx_n > 0, cov_n / varx_n).otherwise(F.lit(0.0))
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.when(
        (varx_n > 0) & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n)
    ).otherwise(F.lit(0.0))
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )
