"""Distributed inverted-index build (SURVEY §3.2 Spark lifecycle).

Semantics from the reference's indexer (tf-idf-indexer/src/lib.rs):
per-page tokenize → TF (lib.rs:168-173) → DF (lib.rs:178-183) →
IDF = log10(N/df), 0-guarded (lib.rs:190-199) → TF-IDF = tf·idf
(lib.rs:215-228). The reference streams 500-page batches through an
in-memory HashMap with one Postgres round-trip per term — the
scalability cliff this engine replaces with two shuffles total:

  docs → [extract/tokenize pandas UDF, no shuffle]
       → explode → groupBy(doc_id, term) [shuffle 1: partial+final agg]
       → groupBy(term) for df            [shuffle 2, map-side combine]

At 100 TB the heavy relation is postings; everything term-global (df,
idf, N, avgdl) is tiny by comparison. Each posting carries its
document's length `dl`, joined from doc_stats ONCE at build time, so
query-time scoring needs no join against doc_stats (in Spark terms, no
per-query shuffle join against a doc-sized table). The BM25 weight
tf_norm is derived from (tf, dl) by one projection with avgdl, k1 and b
as literals (`_postings`), on the built frame and on a read one alike:
the written index stores the small integers (tf, dl), not the f64
tf_norm, and its `meta` table records k1 and b next to N and avgdl, so
`read_index` reproduces the build's floats bit for bit.

doc_id minting: `hash` (xxhash64(url), shuffle-free, the 10^12-doc
path; the only id build_index_from_pages mints) or, in prepare_docs
only, `dense` (row_number over the url order of the docs that survive
the language and empty-text filters — a global sort; used by tests so
ids match the reference's golden fixtures).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from search_engine_spark.functions.textproc import extract_text_udf, tokenize_udf

K1 = 1.2
B = 0.75

#: the written index tables and their column types: read_index passes
#: them, so a read runs no schema-inference job per table
_TABLES = {
    "postings": "term string, doc_id long, tf int, dl long",
    "term_stats": "term string, df long, idf double, idf_f32 float, bm25_idf double",
    "doc_stats": "doc_id long, dl long",
    "meta": "n_docs long, avgdl double, k1 double, b double",
}


def _bm25_idf(n_docs: int) -> Column:
    """BM25 idf of the `df` column over an `n_docs` corpus:
    ln(1 + (N − df + 0.5) / (df + 0.5))."""
    df = F.col("df")
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df + 0.5) / (df + 0.5))


def _tf_norm(avgdl: float, k1: float = K1, b: float = B) -> Column:
    """BM25 saturated, length-normalized tf of the `tf` and `dl`
    columns: tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))."""
    tf = F.col("tf")
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))


def _postings(stored: DataFrame, avgdl: float, k1: float, b: float) -> DataFrame:
    """The postings frame over stored (term, doc_id, tf, dl) rows, with
    tf_norm derived by projection (avgdl, k1, b literals). Built and
    read indexes both go through here, so their floats are identical;
    over a pushed term filter Catalyst evaluates it on surviving rows
    only."""
    return stored.select(
        "term", "doc_id", "tf", "dl", _tf_norm(avgdl or 1.0, k1, b).alias("tf_norm")
    )


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """One row per url: the LATEST crawl snapshot by warc_ts; equal
    timestamps tie-break on a content hash so the pick is a pure
    function of the data, not of shuffle order (review finding r2 —
    row_number over a non-total order differs across runs and task
    retries). A Common-Crawl-style table
    accumulates re-crawls of the same url; indexing must see exactly
    one — the reference's Postgres upsert enforces this per-row
    (db.rs:87-118), a warehouse table enforces it with this windowed
    dedup. One shuffle on url; at 10^12 rows AQE skew-join settings
    handle hot urls, and an Iceberg MERGE ingest (catalog.merge_table)
    makes this a no-op."""
    # tie-break hashes the FULL payload (every non-key column), not just
    # text: two snapshots with equal warc_ts and equal text but
    # differing html/lang would otherwise still be picked
    # nondeterministically across retries (advisory r2). Spark's hash
    # exprs reject MapType, so map columns are hashed via their sorted
    # entries cast to string; a payload-less frame falls back to a
    # constant (url+warc_ts is then the whole row anyway).
    from pyspark.sql.types import MapType

    hash_cols = []
    for f in pages.schema.fields:
        if f.name in ("url", "warc_ts"):
            continue
        if isinstance(f.dataType, MapType):
            hash_cols.append(
                F.to_json(F.array_sort(F.map_entries(F.col(f.name))))
            )
        else:
            hash_cols.append(F.col(f.name))
    tiebreak = F.xxhash64(*hash_cols) if hash_cols else F.lit(0)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), tiebreak.desc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def prepare_docs(
    pages: DataFrame,
    id_method: str = "hash",
    recompute_text: bool = False,
    dedup_snapshots: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → docs(doc_id, url, text).

    - language filter: lang LIKE 'en%' (reference url_handler.rs:29-41, F8)
      — a plain Catalyst predicate, pushed to the scan.
    - empty-page filter (crawler.rs:278-291, F12).
    - `recompute_text=True` re-runs extraction from html (the per-row
      byte-identity invariant); default trusts the stored text column and
      NEVER reads the html binary column (column pruning keeps it out of
      the scan entirely — ReadSchema shows url/text/lang only).
    - `dedup_snapshots=True` first reduces re-crawled urls to their
      latest warc_ts snapshot (latest_snapshot); default off because the
      synthetic corpus is single-snapshot and the window costs a shuffle.
    """
    if dedup_snapshots:
        pages = latest_snapshot(pages)
    df = pages.filter(F.col("lang").startswith("en"))
    text = F.col("text")
    if recompute_text:
        # one consumer of the UDF result (see build_index_from_pages):
        # empty text explodes to no row
        df = df.withColumn("text", extract_text_udf(F.col("html"))).select(
            "url", F.explode(F.when(F.length(text) > 0, F.array(text))).alias("text")
        )
    else:
        df = df.filter(F.length(text) > 0)
    if id_method == "hash":
        df = df.withColumn("doc_id", F.xxhash64(F.col("url")))
    elif id_method == "dense":
        # global sort — test/golden path only (dense ids 1..N like the
        # reference's serial PK); the 10^12-doc path uses `hash`.
        df = df.withColumn(
            "doc_id", F.row_number().over(Window.orderBy(F.col("url")))
        ).withColumn("doc_id", F.col("doc_id").cast("long"))
    else:
        raise ValueError(id_method)
    return df.select("doc_id", "url", "text")


@dataclass
class InvertedIndex:
    """The built index: exploded columnar postings + term/doc dimensions.

    postings(term, doc_id, tf, dl, tf_norm)  — dl is the document's
        length (stored with each posting); tf_norm is the BM25
        term-saturation factor tf·(k1+1)/(tf+k1·(1-b+b·dl/avgdl)),
        derived from tf and dl without a join and never written.
    term_stats(term, df, idf, idf_f32, bm25_idf)
    doc_stats(doc_id, dl)
    k1, b: the BM25 parameters tf_norm was derived with; write_index
        records them in `meta` next to n_docs and avgdl.
    """

    postings: DataFrame
    term_stats: DataFrame
    doc_stats: DataFrame
    n_docs: int
    avgdl: float
    k1: float = K1
    b: float = B

    def cache(self) -> "InvertedIndex":
        self.postings.cache()
        self.term_stats.cache()
        self.doc_stats.cache()
        return self

    def unpersist(self) -> None:
        for df in (self.postings, self.term_stats, self.doc_stats):
            df.unpersist()
        for df in getattr(self, "_persisted", []):
            df.unpersist()


def raw_postings_from_docs(docs: DataFrame, tokenizer=None) -> DataFrame:
    """docs(doc_id, text, ...) → raw postings (doc_id, term, tf) — A1.

    `tokenizer`: Column→Column producing array<string>; defaults to the
    reference-semantics pandas UDF (extract/normalize/stop-filter). Pass
    e.g. ``lambda c: F.split(c, ' ')`` for corpora that are already
    plain tokens (keeps the whole build JVM-side, zero Python).

    Zero-token docs (e.g. all tokens stop-filtered) emit ONE marker row
    (doc_id, term=NULL, tf=0) via explode_outer: the reference counts
    every indexed page toward N and the oracle does too
    (tf-idf-indexer/src/lib.rs:558-563), so empty docs must reach
    doc_stats — including through checkpointed partitions and streaming
    epochs, which persist exactly this relation. (Found by the
    hypothesis rank-identity property on a corpus containing a
    stop-word-only doc.)
    """
    tok = tokenizer or tokenize_udf
    return _tf(
        docs.select("doc_id", F.explode_outer(tok(F.col("text"))).alias("term"))
    )


def _tf(tokens: DataFrame) -> DataFrame:
    """(doc_id, term) token rows → (doc_id, term, tf). A NULL-term
    marker row counts 0, so a zero-token doc keeps one tf-0 row."""
    return tokens.groupBy("doc_id", "term").agg(
        F.sum(F.when(F.col("term").isNotNull(), 1).otherwise(0))
        .cast("int")
        .alias("tf")
    )


def build_index(
    docs: DataFrame,
    k1: float = K1,
    b: float = B,
    tokenizer=None,
) -> InvertedIndex:
    """docs(doc_id, text, ...) → InvertedIndex.

    Two shuffles (doc_id+term agg; term agg). All scoring math is
    Catalyst column arithmetic — whole-stage codegen, no Python.
    """
    # A1: TF — partial+final hash agg (map-side combine over doc-local data).
    # Persisted (memory-then-disk): three consumers below (doc_stats,
    # term_stats, tf_norm join) would otherwise each re-run the expensive
    # extraction/tokenization UDF lineage — the dominant cost at scale.
    raw = raw_postings_from_docs(docs, tokenizer)
    return index_from_raw_postings(raw, k1=k1, b=b)


def index_from_raw_postings(
    raw_postings: DataFrame, k1: float = K1, b: float = B
) -> InvertedIndex:
    """Finalize (doc_id, term, tf) → InvertedIndex.

    The single source of truth for the global-stats recompute (SURVEY
    §3.2): shared by the batch build, the checkpoint-resume finalizer
    (checkpoint.py) and the streaming incremental rebuild
    (streaming/incremental.py) — the reference's incremental merge dance
    (A7, tf-idf-indexer/src/lib.rs:467-529) converges to exactly this
    stateless recompute at every batch end.
    """
    raw_postings = raw_postings.persist(StorageLevel.MEMORY_AND_DISK)

    # doc length = Σ tf per doc (token count post stop-filter, incl. "");
    # NULL-term marker rows contribute tf=0 so zero-token docs are in N
    doc_stats = raw_postings.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # two tiny driver scalars (one job: N + avgdl together)
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)

    # real postings only (drop the zero-token marker rows) for term
    # stats and the posting lists themselves
    true_postings = raw_postings.filter(
        F.col("term").isNotNull() & (F.col("tf") > 0)
    )

    # A2+A4: DF and both IDFs — (term,doc) unique so count(*) == countDistinct
    term_stats = true_postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = F.when(
        (F.col("df") > 0) & (F.lit(n_docs) > 0),
        F.log10(F.lit(float(n_docs)) / F.col("df")),
    ).otherwise(F.lit(0.0))
    term_stats = term_stats.select(
        "term",
        "df",
        idf.alias("idf"),
        idf.cast("float").alias("idf_f32"),  # quirk Q5: reference scores are f32
        _bm25_idf(n_docs).alias("bm25_idf"),
    )

    # attach each posting's doc length (shuffle join on doc_id happens
    # ONCE at build, never at query time); tf_norm derives from it
    postings = _postings(true_postings.join(doc_stats, "doc_id"), avgdl, k1, b)

    index = InvertedIndex(
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        k1=k1,
        b=b,
    )
    index._persisted = [raw_postings]  # doc_stats unpersisted via the field
    return index


def build_index_from_pages(
    pages: DataFrame,
    k1: float = K1,
    b: float = B,
) -> InvertedIndex:
    """pages(url, html, lang, ...) → InvertedIndex via the FUSED
    extract+tokenize UDF (one python worker per task).

    Each page's html crosses to Python ONCE: exactly one operator (the
    explode) consumes the UDF result. A filter or second projection over
    it would be split from the projection that computes it by Catalyst,
    and each part would call the UDF (two ArrowEvalPython nodes).

    Mints the hash doc_id only. Semantically identical to
    prepare_docs(recompute_text=True) + build_index (property-tested)
    but skips materializing `text`: the fused UDF returns NULL for
    empty-text pages (the F12 exclusion — filtered out, not counted in
    N) and [] for zero-token pages (which DO count in N via the marker
    row, matching the reference's per-page num_pages increment). This
    is the throughput path — the chained two-UDF form runs 2× python
    workers per core and anti-scales (see textproc.extract_tokens_udf).
    """
    from search_engine_spark.functions.textproc import extract_tokens_udf

    df = pages.filter(F.col("lang").startswith("en")).withColumn(
        "doc_id", F.xxhash64(F.col("url"))
    )
    # ONE operator consumes the UDF result: a filter over it would be
    # pushed below the projection that computes it and call the UDF a
    # second time (two ArrowEvalPython nodes, every page parsed twice).
    # NULL (empty text, F12) explodes to no row; [] becomes [NULL], the
    # zero-token marker row whose tf _tf folds to 0.
    toks = F.col("toks")
    tokens = df.withColumn("toks", extract_tokens_udf(F.col("html"))).select(
        "doc_id",
        F.explode(F.when(F.size(toks) == 0, F.array(F.lit(None))).otherwise(toks))
        .alias("term"),
    )
    return index_from_raw_postings(_tf(tokens), k1=k1, b=b)


def salted_by_term(
    postings: DataFrame,
    term_stats: DataFrame,
    df_threshold: int = 1_000_000,
    num_salts: int = 32,
) -> DataFrame:
    """Skew-safe repartition-by-term (SURVEY §7.5).

    Zipf head terms concentrate postings: at 10^12 docs a stop-leaked
    term can hold 10^10 postings — one reducer's worth under a plain
    `repartition(term)`. Salt = pmod(xxhash64(doc_id), S) for terms with
    df > threshold (measured — we already have df), 0 otherwise, then
    repartition on (term, salt). Head terms spread over S reducers;
    tail terms keep one partition so file counts stay sane. Output
    content is identical either way (property-tested) — only physical
    placement changes; each partition is still sorted (term, doc_id) so
    parquet row-group stats prune term lookups.
    """
    heads = term_stats.filter(F.col("df") > df_threshold).select(
        "term", F.lit(True).alias("_is_head")
    )
    salted = (
        postings.join(F.broadcast(heads), "term", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_is_head"),
                F.pmod(F.xxhash64("doc_id"), F.lit(num_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .repartition(F.col("term"), F.col("_salt"))
        .sortWithinPartitions("term", "doc_id")
        .drop("_is_head", "_salt")
    )
    return salted


def delete_docs(index: InvertedIndex, doc_ids: DataFrame) -> InvertedIndex:
    """Remove documents from a built index and RECOMPUTE the global
    statistics (df, idf, bm25_idf, N, avgdl, tf_norm) — the operation a
    production index needs for takedowns/GDPR erasure, which the
    reference has no analog for (its Postgres rows are upserted, never
    retracted).

    Deletion is an anti-join of the postings on doc_id (one shuffle,
    or map-side when doc_ids broadcasts), then the SHARED finalizer
    re-derives every derived quantity — deleting a doc changes df of
    its terms, N, and avgdl, which silently corrupts every BM25/IDF
    score if postings are merely filtered. Marker rows for deleted
    empty docs are removed too (they carried the doc's N-membership).
    Equivalence contract (tested): delete_docs(build(docs), ids) ==
    build(docs minus ids), column for column.
    """
    ids = doc_ids.select("doc_id")
    raw = (
        index.postings.select("doc_id", "term", "tf")
        .join(ids, "doc_id", "left_anti")
    )
    # re-materialize the empty-doc marker rows (tf=0) that survive:
    # they are already in postings as (doc_id, NULL, 0) rows and pass
    # through the anti-join untouched, so nothing special to do — the
    # finalizer counts them toward N exactly as at build time.
    return index_from_raw_postings(raw, k1=index.k1, b=index.b)


def index_diff(old: InvertedIndex, new: InvertedIndex) -> DataFrame:
    """(term, df_old, df_new, delta, status): vocabulary diff between
    two index epochs — the audit every re-crawl/re-index cycle needs
    before swapping an index into serving ("what changed, and by how
    much?"). status ∈ added | removed | grown | shrunk | stable. No
    reference analog: its Postgres index is mutated in place with no
    epoch compare.

    Plan shape: one full-outer shuffle join of the two TERM DIMENSIONS
    (vocabulary-sized, ~10^8 rows at web scale — never the postings,
    which are corpus-sized); everything after is narrow column code.
    Both sides arrive hash-partitioned on term from their own builds,
    so AQE commonly elides one exchange.
    """
    o = old.term_stats.select("term", F.col("df").alias("df_old"))
    n = new.term_stats.select("term", F.col("df").alias("df_new"))
    j = o.join(n, "term", "full_outer").select(
        "term",
        F.coalesce("df_old", F.lit(0)).cast("long").alias("df_old"),
        F.coalesce("df_new", F.lit(0)).cast("long").alias("df_new"),
    )
    return j.select(
        "term",
        "df_old",
        "df_new",
        (F.col("df_new") - F.col("df_old")).alias("delta"),
        F.when(F.col("df_old") == 0, "added")
        .when(F.col("df_new") == 0, "removed")
        .when(F.col("df_new") > F.col("df_old"), "grown")
        .when(F.col("df_new") < F.col("df_old"), "shrunk")
        .otherwise("stable")
        .alias("status"),
    )


def auto_salt_threshold(
    index: InvertedIndex, salt_df_floor: int = 100_000
) -> int:
    """MEASURED salting threshold (SURVEY §7.5 — r1 shipped the salted
    path but defaulted it off; at 10^12 docs the unsalted default writes
    a head-term reducer hotspot). Salt any term whose posting list alone
    exceeds a quarter of a reducer's fair share (Σdf / shuffle
    partitions / 4) — a Zipf head term always crosses this, tail terms
    never do. `salt_df_floor` keeps small corpora unsalted (the salt
    only buys anything when one term's list rivals a partition)."""
    return _salt_threshold(index, salt_df_floor)[0]


def _salt_threshold(index: InvertedIndex, salt_df_floor: int) -> tuple[int, int]:
    """(threshold, max df) from ONE Σdf + max(df) aggregate job:
    threshold = max(salt_df_floor, Σdf / shuffle partitions / 4)."""
    row = index.term_stats.agg(
        F.sum("df").alias("t"), F.max("df").alias("m")
    ).collect()[0]
    tot, max_df = int(row["t"] or 0), int(row["m"] or 0)
    spark = index.postings.sparkSession
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(salt_df_floor, int(tot / max(sp, 1) / 4)), max_df


def write_index(
    index: InvertedIndex,
    path: str,
    salt_df_threshold: int | str | None = "auto",
    num_salts: int = 32,
    salt_df_floor: int = 100_000,
) -> None:
    """Materialize to a parquet layout bucketed for query-time pruning.

    Postings are repartitioned by term and sorted (term, doc_id) within
    files so min/max parquet statistics prune file ranges on term
    lookups; at cluster scale this becomes Iceberg
    `PARTITIONED BY (bucket(N, term))` (SURVEY §4.2.3).

    salt_df_threshold: 'auto' (default) measures the df distribution
    and splits any head term's postings over `num_salts` reducers
    (auto_salt_threshold); an int pins the threshold; None opts out
    (plain term layout). Output CONTENT is identical in all three
    modes (property-tested) — only physical placement changes.

    'auto' measures Σdf and max(df) in ONE aggregate and — when no
    term actually crosses the threshold — takes the plain layout
    verbatim, so an unskewed corpus pays only the aggregate job, not
    the salted path's broadcast join + salt column (measured ~10% of
    the 20k-page build wall in the r4 A/B; the skew protection at
    10^12 docs is unchanged because a Zipf head term always crosses).
    A corpus of at most `salt_df_floor` docs skips the aggregate too:
    df ≤ n_docs ≤ floor ≤ threshold, so no term can cross.

    Postings are written as (term, doc_id, tf, dl): tf_norm is derived
    again on read. The one-row `meta` (n_docs, avgdl, k1, b) table is
    built from Arrow columns: one partition, one file.
    """
    from search_engine_spark.catalog import write_table

    if salt_df_threshold == "auto" and index.n_docs <= salt_df_floor:
        # df ≤ n_docs ≤ floor ≤ threshold: no term can cross it
        salt_df_threshold = None
    if salt_df_threshold == "auto":
        thr, max_df = _salt_threshold(index, salt_df_floor)
        salt_df_threshold = thr if max_df > thr else None
    stored = index.postings.select("term", "doc_id", "tf", "dl")
    if salt_df_threshold is not None:
        laid_out = salted_by_term(
            stored, index.term_stats, salt_df_threshold, num_salts
        )
    else:
        laid_out = stored.repartition(F.col("term")).sortWithinPartitions(
            "term", "doc_id"
        )
    write_table(laid_out, f"{path}/postings")
    write_table(index.term_stats, f"{path}/term_stats")
    write_table(index.doc_stats, f"{path}/doc_stats")
    meta = pa.table(
        [pa.array([index.n_docs], pa.int64())]
        + [pa.array([v], pa.float64()) for v in (index.avgdl, index.k1, index.b)],
        names=["n_docs", "avgdl", "k1", "b"],
    )
    write_table(index.postings.sparkSession.createDataFrame(meta), f"{path}/meta")


def to_reference_rows(index: InvertedIndex) -> DataFrame:
    """Export the index in the reference's `terms` row shape
    (migrations/06_create_terms_table.sql:1-11): one row per term with
    idf (f32, `real`) + page_frequency + the hstore maps as
    map<string,float> keyed by page id — tf_scores and tf_idf_scores
    (tf_idf = tf·idf rounded through f32, the reference's stored REAL).

    Purpose: mechanical engine↔reference diffing — a reference Postgres
    dump and this DataFrame compare row-for-row. One groupBy(term)
    shuffle; map_from_entries keeps it all JVM-side.
    """
    scored = index.postings.join(
        index.term_stats.select("term", "idf_f32", "df"), "term"
    ).select(
        "term",
        "idf_f32",
        "df",
        F.col("doc_id").cast("string").alias("page_id"),
        F.col("tf").cast("float").alias("tf_score"),
        (F.col("tf") * F.col("idf_f32")).cast("float").alias("tf_idf_score"),
    )
    return (
        scored.groupBy("term")
        .agg(
            F.first("idf_f32").alias("idf"),
            F.first("df").cast("int").alias("page_frequency"),
            F.map_from_entries(
                F.collect_list(F.struct("page_id", "tf_score"))
            ).alias("tf_scores"),
            F.map_from_entries(
                F.collect_list(F.struct("page_id", "tf_idf_score"))
            ).alias("tf_idf_scores"),
        )
    )


def from_reference_rows(
    reference_rows: DataFrame, k1: float = K1, b: float = B
) -> InvertedIndex:
    """Rebuild an InvertedIndex from reference-shaped `terms` rows (the
    inverse of to_reference_rows, up to global stats recompute): explode
    tf_scores back to raw postings and re-derive df/idf/tf_norm via the
    shared finalizer — round-trip tested in tests/test_checkpoint.py."""
    raw = reference_rows.select(
        "term", F.explode("tf_scores").alias("page_id", "tf")
    ).select(
        F.col("page_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("int").alias("tf"),
    )
    return index_from_raw_postings(raw, k1=k1, b=b)


def read_index(spark: SparkSession, path: str) -> InvertedIndex:
    """The index write_index laid out at `path`. Each table is read with
    its known schema (_TABLES), so the only job is the `meta` collect;
    tf_norm is derived over the stored postings with meta's avgdl, k1
    and b."""
    from search_engine_spark.catalog import read_table

    t = {name: read_table(spark, f"{path}/{name}", ddl) for name, ddl in _TABLES.items()}
    meta = t["meta"].collect()[0]
    avgdl, k1, b = float(meta["avgdl"]), float(meta["k1"]), float(meta["b"])
    return InvertedIndex(
        postings=_postings(t["postings"], avgdl, k1, b),
        term_stats=t["term_stats"],
        doc_stats=t["doc_stats"],
        n_docs=int(meta["n_docs"]),
        avgdl=avgdl,
        k1=k1,
        b=b,
    )


def prune_index(
    index: InvertedIndex,
    min_df: int = 2,
    max_df_ratio: float = 0.5,
) -> InvertedIndex:
    """Vocabulary-band pruning: drop terms with df < min_df (hapax/noise
    — typically >40 % of a web vocabulary but a negligible share of
    postings) and df > max_df_ratio·N (corpus-specific stopwords that
    BM25's idf already near-zeroes but whose posting lists dominate
    index IO — at 10^12 docs the head term's list alone is terabytes).

    Shape: the df band evaluates on term_stats (the SMALL relation),
    and postings shrink via a broadcast semi-join of the surviving
    vocabulary — the big relation is filtered in its scan stage, never
    shuffled. doc_stats/n_docs/avgdl keep their pre-prune values: BM25
    length normalization stays defined by the true corpus, so scores
    of surviving terms are unchanged (asserted in tests).
    """
    keep = index.term_stats.filter(
        (F.col("df") >= min_df)
        & (F.col("df") <= F.lit(float(max_df_ratio)) * F.lit(index.n_docs))
    )
    pruned_postings = index.postings.join(
        F.broadcast(keep.select("term")), "term", "left_semi"
    )
    return replace(index, postings=pruned_postings, term_stats=keep)


def index_stats(index: InvertedIndex) -> DataFrame:
    """One-row (n_docs, vocab_size, n_postings, total_tokens, avgdl)
    summary — the index-stats API a serving cluster exposes for
    capacity planning and monitoring (beyond-reference; the reference
    exposes only N, state/db.rs via S6).

    Two scan-stage aggregates crossJoined as 1-row scalars — the only
    exchange is each agg's partial-merge, so the row costs one pass
    over term_stats + postings at any corpus size. n_docs/avgdl are
    the build-time driver scalars (doc_stats is not re-read).
    """
    vocab = index.term_stats.agg(F.count(F.lit(1)).alias("vocab_size"))
    posts = index.postings.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.sum("tf").cast("long").alias("total_tokens"),
    )
    return vocab.crossJoin(posts).select(
        F.lit(int(index.n_docs)).cast("long").alias("n_docs"),
        "vocab_size",
        "n_postings",
        "total_tokens",
        F.round(F.lit(float(index.avgdl)), 6).alias("avgdl"),
    )
