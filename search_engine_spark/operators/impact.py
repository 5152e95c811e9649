"""Impact-quantized postings: b-bit integer serving scores.

Anh & Moffat's impact-ordered index idea (ACM TOIS 2006), Spark-first:
compute each posting's full BM25 contribution impact = bm25_idf ·
tf_norm once (tf_norm derived from the posting's tf and dl, as every
InvertedIndex carries it), linearly quantize it to b bits against the
global [min, max] impact range, and store ONLY the small integer. The
serving win at 10^12-posting scale is twofold: the scored column
shrinks from an 8-byte double to a 1-byte slot (the parquet page is
dictionary/bit-packed further), and query-time scoring becomes an
INTEGER sum — no floating point at all in the hot aggregation, so
partial aggregation order can never perturb ranks and the result is
bit-identical on any engine, any partitioning. Rank quality loss is
bounded by step/2 per matched term (255 levels ≈ 0.2 % of the impact
range per term), the standard quality/size trade the paper quantifies.

The reference has no analog (it stores raw tf maps in Postgres —
migrations/06_create_terms_table.sql); this is the packaging its
serving path would need at web scale.

Plan shapes:
- quantize_impacts: postings ⋈ term_stats on term (both sides already
  hash-partitioned by term from the build — AQE commonly elides one
  exchange), then a 2-scalar min/max aggregate broadcast back as
  literals. One pass, output partitionable exactly like the source
  postings.
- quantized_search: the same broadcast-isin dictionary-seek probe as
  score_bm25, but the aggregate is SUM(int) + COUNT — integer math,
  whole-stage codegen, nothing wider than (query_id, doc_id, long).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.operators.index_build import InvertedIndex
from search_engine_spark.operators.query import _query_terms, _rank_cut

__all__ = ["QuantizedIndex", "quantize_impacts", "quantized_search"]


@dataclass(frozen=True)
class QuantizedIndex:
    """postings: (term, doc_id, q) with q ∈ [0, 2^bits − 1];
    lo/step: the dequantization affine (impact ≈ lo + q·step). The
    quantizer anchors lo = 0 so the integer sum ORDER equals the
    dequantized-score order (see quantize_impacts)."""

    postings: DataFrame
    lo: float
    step: float
    bits: int


def quantize_impacts(index: InvertedIndex, bits: int = 8) -> QuantizedIndex:
    """Quantize every posting's BM25 impact to `bits` bits.

    q = min(2^bits − 1, floor(impact / step)) with step =
    hi/(2^bits − 1), hi the global max impact. The grid is anchored at
    ZERO, not at the min impact: with a nonzero anchor the dequantized
    score n_matched·lo + Σq·step is NOT a monotone function of Σq
    alone (a doc matching fewer terms could outrank one whose true
    BM25 score is higher by up to n·lo), so ranking by the integer sum
    would silently disagree with the scores it reports. Anchoring at 0
    makes score = Σq·step, so the integer order IS the score order and
    the per-term error stays ≤ step (floor) — the step is at most
    hi/(hi−lo) ≈ a few % wider than the min-anchored grid.
    floor + clamp (not round) so the boundary value hi cannot escape
    the top bucket through FP jitter, and the same double arithmetic
    replays in any engine. An empty postings relation yields an empty
    QuantizedIndex (step = 0) rather than a driver TypeError.
    """
    levels = (1 << bits) - 1
    imp = index.postings.join(
        index.term_stats.select("term", "bm25_idf"), "term"
    ).select(
        "term",
        "doc_id",
        (F.col("bm25_idf") * F.col("tf_norm")).alias("impact"),
    )
    row = imp.agg(F.max("impact").alias("hi")).first()
    hi = float(row["hi"]) if row["hi"] is not None else 0.0
    step = hi / levels if hi > 0 else 0.0
    if step == 0.0:
        q = F.lit(0)
    else:
        q = F.least(
            F.lit(levels),
            F.floor(F.col("impact") / F.lit(step)),
        )
    postings = imp.select(
        "term", "doc_id", q.cast("int").alias("q")
    )
    return QuantizedIndex(postings=postings, lo=0.0, step=step, bits=bits)


def write_quantized_index(qindex: QuantizedIndex, path: str) -> None:
    """Materialize the quantized postings in the same pruning-friendly
    layout as write_index: repartitioned by term, sorted (term, doc_id)
    within files so parquet min/max stats skip every untouched posting
    list at probe time, plus a 1-row meta table carrying the
    dequantization affine. 1-byte q values dictionary/bit-pack further
    inside parquet — the on-disk serving index is a fraction of the
    double-scored layout."""
    from search_engine_spark.catalog import write_table

    spark = qindex.postings.sparkSession
    p = (
        qindex.postings.repartition("term")
        .sortWithinPartitions("term", "doc_id")
    )
    write_table(p, f"{path}/postings")
    meta = spark.createDataFrame(
        [(qindex.lo, qindex.step, qindex.bits)],
        "lo double, step double, bits int",
    )
    write_table(meta, f"{path}/meta")


def read_quantized_index(spark: SparkSession, path: str) -> QuantizedIndex:
    from search_engine_spark.catalog import read_table

    meta = read_table(spark, f"{path}/meta").collect()[0]
    return QuantizedIndex(
        postings=read_table(spark, f"{path}/postings"),
        lo=float(meta["lo"]),
        step=float(meta["step"]),
        bits=int(meta["bits"]),
    )


def quantized_search(
    qindex: QuantizedIndex,
    spark: SparkSession,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """(query_id, doc_id, sum_q, n_matched, score): top-k by the
    integer impact sum (ties: more matched terms, then doc_id ASC —
    sum_q already folds idf, and with the zero-anchored grid
    score = n·lo + Σq·step = Σq·step, so the integer order IS the
    dequantized-score order, not merely an approximation of it).
    """
    qt, terms = _query_terms(spark, query_terms, tokenized=True)
    m = qindex.postings.filter(F.col("term").isin(terms)).join(
        F.broadcast(qt), "term"
    )
    scored = m.groupBy("query_id", "doc_id").agg(
        F.sum("q").cast("long").alias("sum_q"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    ranked = scored.withColumn(
        "score",
        F.round(
            F.col("n_matched") * F.lit(qindex.lo)
            + F.col("sum_q") * F.lit(qindex.step),
            6,
        ),
    )
    order = (
        F.col("sum_q").desc(),
        F.col("n_matched").desc(),
        F.col("doc_id").asc(),
    )
    return _rank_cut(ranked, k, ["query_id"], *order).orderBy("query_id", *order)
