"""Deduplication operators — exact and near-dup, at training-pipeline scale.

The reference's only dedup is HashSet identity on URLs/pages (SURVEY
§2.4 A8, crawler page.rs:66-136); a 100 TB webtext pipeline needs
content dedup as a first-class stage. All variants below are pure
DataFrame ops (no Python on the hot path):

- exact_dedup: md5-groupBy — one shuffle on the fingerprint.
- token_jaccard_pairs: token-set Jaccard via self-join on shared terms
  (the SQL-checkable baseline; O(pairs-sharing-a-term)).
- minhash_lsh_pairs: MinHash signatures + banded LSH — the scale path:
  candidate generation is a groupBy on (band, band_hash) buckets, so
  cost is O(near-dup candidates), not O(n²); candidates are then
  verified with true Jaccard.
- simhash_pairs: 60-bit SimHash + banded hamming candidates verified by
  bit_count(xor) ≤ max_hamming.
- dupspan_scrub: SPAN-level exact dedup (Lee et al. 2022) — removes
  k-token runs that recur across documents, the boilerplate whole-doc
  dedup cannot see.

Hash family (`family=` on every MinHash/SimHash operator, see
hashing.FAMILIES): the production default is `xxhash64` — Spark's
native hash masked to the same 60-bit range, pure codegen, no md5. The
`portable` md5-derived family is computable verbatim in DuckDB, so the
oracle-gated `__spark_entry__` entries pass family="portable"
explicitly; it costs ~3× (measured at sf0.1) and exists only for
verification. Both families produce identical labelings on dup-cluster
data (asserted in tests/test_dedup_family.py): signatures within an
exact-dup cluster are equal under ANY hash, and near-dup banding
differs only in which borderline candidates surface — candidates are
verified with exact Jaccard downstream either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.hashing import (
    M31,
    N_MINHASH,
    h64,
    hyperplane_sigs,
    minhash_columns,
)
from search_engine_spark.operators.query import _rank_cut
from search_engine_spark.operators.similarity import _cos
from search_engine_spark.operators.text_analytics import tokens_df


def exact_dedup(documents: DataFrame) -> DataFrame:
    """(fp, keep_id, n_copies): canonical doc per identical text."""
    return (
        documents.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def distinct_terms(documents: DataFrame) -> DataFrame:
    return tokens_df(documents).distinct()


def token_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for token-set Jaccard ≥ threshold.

    Self-equi-join on term; skew warning: a term present in f docs
    contributes f² join rows — at scale run minhash_lsh_pairs instead
    (this operator is the exact oracle-checkable baseline).
    """
    toks = distinct_terms(documents)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    common = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    documents: DataFrame, num_hashes: int = N_MINHASH, family: str = "xxhash64"
) -> DataFrame:
    """(doc_id, sig array<long>): per-doc MinHash signature.

    One wide aggregation: num_hashes min() columns over the distinct
    (doc, term) relation — a single shuffle, map-side combined. One
    base hash per (doc, term) row (xxhash64 by default; portable md5
    when the DuckDB oracle must recompute it) + num_hashes (a·h+b)
    mod M31 permutations (hashing.minhash_columns) — pure codegen
    long arithmetic either way.
    """
    toks = distinct_terms(documents)
    based = toks.select(
        "doc_id", (h64(F.col("term"), family) % M31).alias("base")
    )
    hashed = based.select("doc_id", *minhash_columns(F.col("base"), num_hashes))
    wide = hashed.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return wide.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_buckets(
    documents: DataFrame,
    num_hashes: int = N_MINHASH,
    bands: int = 16,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band, bh): one LSH bucket row per (doc, band).

    bucket key bh = h64 (in the chosen family) of the band's signature
    rows joined with ',' — 8 bytes on the shuffle wire; the portable
    family is reproducible in SQL as md5(string_agg(v, ',' ORDER BY i)).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(documents, num_hashes, family)
    band_cols = []
    for bnd in range(bands):
        cols = [
            F.col("sig")[i]
            for i in range(bnd * rows_per_band, (bnd + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(bnd).alias("band"),
                h64(F.concat_ws(",", *cols), family).alias("bh"),
            )
        )
    return sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = N_MINHASH,
    bands: int = 16,
    threshold: float = 0.8,
    family: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs verified with true token Jaccard.

    Docs sharing any (band, bh) bucket become candidates; rows/band =
    num_hashes/bands tunes the S-curve. Verification joins only
    candidate pairs.

    Candidate enumeration is MEMBERSHIP-DEDUPED, not a per-band bucket
    self-join: buckets are first aggregated to their sorted member
    lists and buckets with IDENTICAL membership collapse to one before
    any pair is emitted. This is exact (the distinct pair set over
    "share ≥ 1 bucket" is unchanged) and removes the dominant
    degenerate cost: a c-doc exact-duplicate clique lands the same c
    members in all `bands` buckets, so the naive self-join shuffled
    bands·c²/2 candidate rows into a distinct — ~200M rows for one
    5,000-doc clique at 16 bands — where this plan shuffles c member
    rows per band into the membership agg, collapses the identical
    groups to one, and emits the c²/2 pairs once. Near-dup cliques
    whose per-band membership differs slightly don't collapse fully
    but still emit from far fewer distinct groups than band-rows.

    max_bucket (None = exact): when set, bucket groups with more than
    max_bucket members are EXCLUDED from pair enumeration — the
    100 TB guard for pathological buckets. The recall argument: a true
    near-dup pair at Jaccard s collides per band with prob s^r, so it
    almost surely also co-occurs in buckets that stay small unless it
    belongs to a giant near-dup clique — and for a clique of size
    c > max_bucket the PAIR enumeration itself is the wrong product
    (O(c²) output rows); route those through dedup_labels /
    dedup_groups (label propagation, linear output) instead. Capped
    runs therefore under-enumerate exactly the outputs that should be
    group-labeled, never the isolated pairs.
    """
    buckets = minhash_buckets(documents, num_hashes, bands, family)
    # one shuffle: bucket -> sorted member list; identical memberships
    # (the exact-dup clique case: all bands) collapse in the distinct
    members = (
        buckets.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("mem"))
        .filter(F.size("mem") >= 2)
    )
    if max_bucket is not None:
        members = members.filter(F.size("mem") <= max_bucket)
    groups = members.select("mem").distinct()
    a = groups.select(F.explode("mem").alias("doc_a"), "mem")
    cands = (
        a.select("doc_a", F.explode("mem").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    return verify_jaccard(cands, documents, threshold)


def _label_sum(lbl: DataFrame):
    """Σ keep_id as decimal(38,0): ids may be xxhash64-minted (|Σ| up
    to n·2^63 overflows a long and Spark's long sum wraps silently)."""
    return lbl.agg(
        F.sum(F.col("keep_id").cast("decimal(38,0)")).alias("s")
    ).first()["s"]


def _propagate_min_labels(
    by_doc: DataFrame,
    by_bucket: DataFrame,
    labels: DataFrame,
    max_iterations: int = 50,
) -> DataFrame:
    """Min-label propagation to fixpoint over a (doc_id, band, bh)
    bucket relation: rep(bucket) = min label in bucket, label(doc) =
    min over its buckets, repeated until no label changes — the exact
    connected components of the share-a-bucket graph, with each doc
    converging to the MINIMUM SEED LABEL in its component (for the
    batch dedup seeds are the doc ids themselves; the incremental path
    seeds corpus docs with their already-assigned representatives).

    Inputs `by_doc`/`by_bucket` are the same relation pre-partitioned
    on each hop's join key (caller persists both); `labels` is the
    persisted seed relation (doc_id, keep_id). Returns the converged
    labels (persisted); intermediates are unpersisted here, the inputs
    are the caller's to release.

    Convergence check: min-propagation is MONOTONE (labels only ever
    decrease), so Σ keep_id strictly decreases until the fixpoint — an
    exact-decimal aggregate rides the same job that materializes each
    round's labels.

    Each round's labels are localCheckpoint()ed, not merely persisted:
    persist caches the DATA but the logical plan keeps growing round
    over round, and the optimizer/AQE re-analyze the whole cumulative
    plan every iteration — measured per-round time climbed 1.5 s →
    4 s over 5 rounds at sf0.1 before the change, flat ~0.8 s after.
    localCheckpoint stores the round's partitions in executor storage
    and TRUNCATES lineage, the standard iterative-algorithm pattern.
    (On a cluster with dynamic allocation / executor loss, swap for a
    reliable checkpoint dir — localCheckpoint partitions die with
    their executor.)
    """
    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        # TWO propagation hops per job: each hop halves the remaining
        # component diameter, and fusing them halves the number of
        # driver barriers/actions — at toy scale the per-round job
        # overhead dominates, at cluster scale fewer shuffle barriers
        # means fewer straggler waits for the same data volume.
        step = labels
        for _hop in range(2):
            bucket_rep = (
                by_doc.join(step, "doc_id")
                .groupBy("band", "bh")
                .agg(F.min("keep_id").alias("rep"))
            )
            step = (
                by_bucket.join(bucket_rep, ["band", "bh"])
                .groupBy("doc_id")
                .agg(F.min("rep").alias("keep_id"))
            )
        new_labels = step.localCheckpoint()
        new_sum = _label_sum(new_labels)
        labels.unpersist()  # no-op once labels are checkpointed
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_labels_from_buckets(
    raw_buckets: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """(doc_id, keep_id) connected-component labels from a (doc_id,
    band, bh) bucket relation — the shared tail of minhash_dedup and
    build_dedup_index (which materializes the buckets it already has
    instead of recomputing signatures)."""
    from pyspark.storagelevel import StorageLevel

    # two persisted copies of the bucket relation, pre-partitioned on
    # each iteration's join key: labels are groupBy outputs with the
    # matching hash partitioning, so each round pays exactly two 8-byte
    # per-row shuffles (band-rep agg, doc agg) instead of four
    raw_buckets = raw_buckets.persist(StorageLevel.MEMORY_AND_DISK)
    by_doc = raw_buckets.repartition("doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    by_bucket = raw_buckets.repartition("band", "bh").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    by_doc.count()  # materialize both copies off ONE signature pass
    by_bucket.count()
    raw_buckets.unpersist()
    # seed labels with round 1 directly (label(d) = min doc over d's
    # buckets' minima) — computable without a prior labels relation, so
    # the loop starts one round ahead
    bucket_min = by_bucket.groupBy("band", "bh").agg(
        F.min("doc_id").alias("rep")
    )
    labels = (
        by_bucket.join(bucket_min, ["band", "bh"])
        .groupBy("doc_id")
        .agg(F.min("rep").alias("keep_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = _propagate_min_labels(by_doc, by_bucket, labels, max_iterations)
    by_doc.unpersist()
    by_bucket.unpersist()
    return labels


def minhash_dedup(
    documents: DataFrame,
    num_hashes: int = N_MINHASH,
    bands: int = 16,
    max_iterations: int = 50,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, keep_id): canonical representative per near-dup group.

    The scale-correct output shape: enumerating near-dup PAIRS is
    quadratic in cluster size (a 1k-doc template cluster alone yields
    500k pairs — measured ~1M pairs on the sf0.1 documents table), but
    a dedup stage only needs doc→representative. Label propagation over
    the LSH buckets TO FIXPOINT (see _propagate_min_labels) — the exact
    connected components of the share-a-bucket graph (rounds ≈ log2 of
    the longest dup chain). Each round is one groupBy+join over
    O(n·bands) rows, no pair blowup. Docs with keep_id < doc_id are
    near-dup drops.
    """
    return dedup_labels_from_buckets(
        minhash_buckets(documents, num_hashes, bands, family), max_iterations
    )


def build_dedup_index(
    documents: DataFrame,
    path: str,
    num_hashes: int = N_MINHASH,
    bands: int = 16,
    family: str = "xxhash64",
) -> None:
    """Materialize the corpus dedup state for INCREMENTAL ingest: the
    LSH bucket relation ({path}/buckets: doc_id, band, bh) and the
    corpus doc→representative labels ({path}/labels: doc_id, keep_id).

    A continuously-ingesting pipeline dedups each arriving batch
    against the corpus WITHOUT recomputing corpus signatures — the
    batch probes this table (minhash_dedup_incremental). Signatures
    are computed exactly once here and feed BOTH outputs. On a real
    deployment write `buckets` as an Iceberg table bucketed by
    (band, bh) so the probe join is storage-co-located; plain parquet
    (this sandbox) still only pays an equi-join shuffle of the 3-column
    relation, never a signature recompute.
    """
    from pyspark.storagelevel import StorageLevel

    buckets = minhash_buckets(documents, num_hashes, bands, family).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    buckets.write.mode("overwrite").parquet(f"{path}/buckets")
    dedup_labels_from_buckets(buckets).write.mode("overwrite").parquet(
        f"{path}/labels"
    )
    buckets.unpersist()


def load_dedup_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(corpus_buckets, corpus_labels) from a build_dedup_index layout."""
    return (
        spark.read.parquet(f"{path}/buckets"),
        spark.read.parquet(f"{path}/labels"),
    )


def minhash_dedup_incremental(
    corpus_buckets: DataFrame,
    corpus_labels: DataFrame,
    batch: DataFrame,
    num_hashes: int = N_MINHASH,
    bands: int = 16,
    max_iterations: int = 50,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, keep_id) for BATCH docs only: dedup a newly-ingested
    batch against an already-deduped corpus without touching corpus
    signatures — the production shape for continuous ingest.

    Cost is O(batch), not O(corpus): signatures/buckets are computed
    for the batch alone; corpus bucket rows are pulled in ONLY for
    bucket keys the batch touches (leftsemi on (band, bh)); label
    propagation runs over that touched subgraph with corpus docs
    seeded by their existing keep_id and batch docs by their own id.
    A batch doc that lands in an existing cluster inherits the cluster
    representative; batch-batch near-dup chains resolve among
    themselves; a batch doc bridging two existing clusters takes the
    smaller representative (the STORED corpus labels are not rewritten
    — re-run the full minhash_dedup to re-canonicalize, same contract
    as any incremental index compaction).

    Batch docs with no tokens produce no buckets and label themselves
    (left-join + coalesce at the end).
    """
    from pyspark.storagelevel import StorageLevel

    cols = ["doc_id", "band", "bh"]
    b_buckets = minhash_buckets(batch, num_hashes, bands, family).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    touched = b_buckets.select("band", "bh").distinct()
    c_touched = corpus_buckets.join(touched, ["band", "bh"], "leftsemi")
    sub = b_buckets.select(*cols).unionByName(c_touched.select(*cols))

    by_doc = sub.repartition("doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    by_bucket = sub.repartition("band", "bh").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    by_doc.count()  # materialize both copies off one probe pass
    by_bucket.count()

    batch_ids = batch.select("doc_id").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    corpus_touched_ids = by_doc.select("doc_id").distinct().join(
        batch_ids, "doc_id", "left_anti"
    )
    seeds = (
        batch_ids.withColumn("keep_id", F.col("doc_id"))
        .unionByName(
            corpus_labels.join(corpus_touched_ids, "doc_id").select(
                "doc_id", "keep_id"
            )
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = _propagate_min_labels(by_doc, by_bucket, seeds, max_iterations)
    out = (
        batch_ids.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("keep_id"), F.col("doc_id")).alias("keep_id"),
        )
    )
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    for df in (labels, b_buckets, by_doc, by_bucket, batch_ids):
        df.unpersist()
    return out


def verify_jaccard(
    cands: DataFrame, documents: DataFrame, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard for CANDIDATE pairs only.

    Scale-critical: verifying via the full token self-join costs
    O(Σ_t df_t²) — measured 162 s of a 215 s bench at sf0.1 — while the
    LSH point is that candidates are few. Token sets are collected ONLY
    for docs appearing in a candidate pair (semi-join pushdown into the
    token scan), then Jaccard is array_intersect/array_union column
    math over the pair relation: O(candidates · tokens-per-doc), no
    quadratic blowup, no Python.
    """
    toks = distinct_terms(documents)
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # NO broadcast hint: the candidate doc set is unbounded at 100 TB
    # (billions of rows in a duplicate-heavy crawl would OOM a forced
    # broadcast). AQE still picks a broadcast join when the measured
    # size is small — the common case — and falls back to shuffle
    # hash/sort-merge when it isn't.
    tok_sets = (
        toks.join(cand_docs, "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_set("term").alias("ts"))
    )
    a = tok_sets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    b = tok_sets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
    union = F.size(F.col("ts_a")) + F.size(F.col("ts_b")) - inter
    # SHUFFLE_HASH, not broadcast, for the pair↔token-set joins: both
    # sides are unbounded at 100 TB (candidate pairs scale with corpus
    # dupiness, token sets with the doc count), and in local mode the
    # broadcast build shares the single JVM heap with execution — AQE's
    # "measured small" broadcast of the pair relation OOM'd the r5
    # bench under suite cache pressure. Hash join on the equi key with
    # both sides key-partitioned is the plan that survives both.
    return (
        cands.join(a.hint("shuffle_hash"), "doc_a")
        .join(b.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def token_shingles(documents: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, g): distinct space-joined token n-grams — JVM-side
    (filtered split + sequence + slice + concat_ws, no Python). Docs
    shorter than n tokens produce no rows (guarded: Spark's
    sequence(1, 0) would count DOWN, not empty)."""
    from search_engine_spark.operators.curation import ngram_array
    from search_engine_spark.operators.text_analytics import ws_tokens

    # tokenize into an attribute FIRST: Catalyst does not CSE inside
    # higher-order-function lambdas, so slicing an inline ws_tokens
    # expression re-tokenized the text per gram (measured at sf0.1:
    # 8.5 s → 5.2 s cold / 1.5 s warm for the same 236k shingles)
    base = documents.select("doc_id", ws_tokens(F.col("text")).alias("t"))
    return base.select(
        "doc_id", F.explode(ngram_array(F.col("t"), n)).alias("g")
    ).distinct()


def ngram_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """(probe_id, doc_id, n_shared, contamination): corpus docs sharing
    ≥ threshold of a probe doc's token n-grams — the benchmark
    DECONTAMINATION check a pretraining pipeline runs before training
    (probes = the eval set; a hit means the training corpus contains
    the benchmark, so the doc must be dropped or the eval discounted).

    contamination = |probe ∩ doc n-grams| / |probe n-grams| — the
    asymmetric containment score (a 100-word benchmark item quoted
    inside a 10k-word page must still score 1.0; symmetric Jaccard
    would dilute it to noise).

    Scale shape: the probe shingle relation is benchmark-sized (tiny
    next to the corpus), so the equi-join on the gram is the filter —
    AQE broadcasts the probe side and the corpus shingle stream never
    shuffles; no forced broadcast (a giant probe set degrades to a
    shuffle join instead of OOMing the driver). n ≥ 8 keeps grams
    specific enough that no gram is corpus-common (the skew guard:
    8-token sequences shared by millions of docs are themselves
    near-dup boilerplate, which dedup removes upstream).
    """
    csh = token_shingles(corpus, n)
    psh = token_shingles(probes, n).select(
        F.col("doc_id").alias("probe_id"), "g"
    )
    psz = psh.groupBy("probe_id").agg(F.count(F.lit(1)).alias("sz"))
    ov = (
        csh.join(psh, "g")
        .groupBy("probe_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        ov.join(psz, "probe_id")
        .select(
            "probe_id",
            "doc_id",
            "n_shared",
            F.round(F.col("n_shared") / F.col("sz"), 6).alias("contamination"),
        )
        .filter(F.col("contamination") >= threshold)
    )


def char_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh): distinct character n-grams — JVM-side (sequence +
    substring + explode), no Python."""
    return (
        documents.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1))),
                    lambda i: F.col("text").substr(i, F.lit(n)),
                )
            ).alias("sh"),
        )
        .filter(F.length("sh") == n)
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """(doc_a, doc_b, jaccard) over character n-gram shingle sets —
    the classic near-dup signal robust to token reordering. Same
    self-join shape as token_jaccard_pairs (exact baseline; the scale
    path hashes these shingles through minhash_lsh_pairs)."""
    sh = char_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_cosine_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """(vec_a, vec_b, cos): embedding near-dup pairs by exact cosine —
    the SQL-checkable O(n²) baseline (JVM column math, f64).

    At scale use embedding_neardup_pairs (LSH-bucketed candidates)."""
    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _cos(F.col("ea"), F.col("eb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Scale path: multi-table random-hyperplane LSH candidates (vectors
    sharing ANY table's signature — OR over tables, the banding fix for
    the r1 single-table ~14% miss rate), then exact cosine verifies.
    The bucket self-join is the only shuffle touching all rows, carrying
    n_tables longs per vector; a near-dup pair at cos ≥ 0.95 collides
    per table with p = (1 - θ/π)^8 ≈ 0.86, so the 8-table miss rate is
    (1-p)^8 ≈ 1.4e-7."""
    # bucket rows carry only (vec_id, t, sig): the self-join + distinct
    # shuffles ids, never embeddings; vectors are re-joined only for the
    # surviving candidate pairs.
    sigs = embeddings.select(
        "vec_id",
        F.posexplode(
            hyperplane_sigs(F.col("embedding"), dim, n_planes, n_tables)
        ).alias("t", "sig"),
    )
    l = sigs.select(F.col("vec_id").alias("vec_a"), "t", "sig")
    r = sigs.select(F.col("vec_id").alias("vec_b"), "t", "sig")
    cands = (
        l.join(r, ["t", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            _cos(F.col("ea"), F.col("eb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


SIMHASH_BITS = 60  # the portable h64 yields 60 hash bits


def simhash(documents: DataFrame, family: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash long): 60-bit SimHash over tf-weighted terms
    (bit votes over h64's 60 bits; family="portable" is
    oracle-reproducible)."""
    tf = tokens_df(documents).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    h = h64(F.col("term"), family)
    sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.col("tf")).otherwise(
                -F.col("tf")
            )
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    wide = tf.groupBy("doc_id").agg(*sums)
    acc = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc.bitwiseOR(bit)
    return wide.select("doc_id", acc.alias("simhash"))


def simhash_pairs(
    documents: DataFrame, max_hamming: int = 8, family: str = "xxhash64"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale:
    60 bits → 4×15-bit bands; pairs sharing any band are candidates
    (guaranteed to include every pair with hamming ≤ 3 by pigeonhole;
    probabilistically most pairs up to max_hamming)."""
    sh = simhash(documents, family)
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * 15)
            .bitwiseAND(F.lit(0x7FFF))
            .alias("bh"),
        )
        for i in range(4)
    ]
    buckets = sh.select("doc_id", "simhash", F.explode(F.array(*bands)).alias("b")).select(
        "doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    l = buckets.alias("l")
    r = buckets.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dupspan_scrub(
    documents: DataFrame, k: int = 5, min_docs: int = 2
) -> DataFrame:
    """Exact duplicated-span scrubbing: (doc_id, clean_text, n_removed)
    with every token covered by a k-token shingle that occurs in >=
    min_docs DISTINCT documents removed from every document — the
    span-level exact dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), which kills boilerplate
    headers/footers and quoted passages that whole-document dedup
    (exact_dedup / minhash_dedup) cannot see.

    Lee et al. build a single-node suffix array; the distributed shape
    here is positioned shingles + one groupBy: (doc_id, pos, shingle)
    rows aggregate to cross-doc duplicate shingles (map-side combine,
    near-unique keys), duplicates join back to mark covered token
    positions, and survivors re-assemble per doc via an ordered
    collect (docs are page-sized, so the per-group list is bounded).
    Within-doc repeats do NOT trigger removal (min_docs counts distinct
    docs); a span's every occurrence is scrubbed, so downstream token
    counts shift — run this BEFORE packing/mixing, which is why the
    output carries n_removed for the drop audit.
    """
    from search_engine_spark.operators.curation import ngram_array
    from search_engine_spark.operators.text_analytics import ws_tokens

    t = F.col("t")
    base = documents.select("doc_id", ws_tokens(F.col("text")).alias("t"))
    sh = base.select(
        "doc_id", F.posexplode(ngram_array(t, k)).alias("pos", "s")
    )
    dup = (
        sh.select("s", "doc_id")
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("s")
    )
    covered = (
        sh.join(dup, "s")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tokens = base.select("doc_id", F.posexplode(t).alias("pos", "term"))
    kept = tokens.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda x: x["term"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("doc_id", F.size(t).alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def normalized_dedup(documents: DataFrame) -> DataFrame:
    """(fp, keep_id, n_copies): exact dedup AFTER canonicalization —
    the C4/RefinedWeb "fuzzy-exact" step that exact_dedup misses:
    case, punctuation and whitespace-run variants of the same page
    collapse to one canonical form before hashing.

    canonical = lowercase → strip every char outside [a-z0-9 ] →
    collapse space runs → trim. The normalizer is pure Catalyst
    (lower + two regexp_replace + trim, whole-stage codegen'd in the
    scan stage; the regexes avoid every construct whose semantics
    differ between Java regex and RE2, so the DuckDB oracle replays
    them verbatim). One shuffle on the 16-byte fp — identical scale
    shape to exact_dedup.
    """
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        documents.select(F.md5(canon.cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def select_representatives(
    labels: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
) -> DataFrame:
    """(doc_id, rep_id): re-canonicalize dedup groups by QUALITY — keep
    each group's best-scoring member (score DESC, doc_id ASC) instead
    of the smallest id. min-id canonicalization (what the CC fixpoint
    emits as keep_id) is arbitrary: in a training-data pipeline you
    want the longest / highest-quality / least-boilerplate variant of
    a near-dup cluster to survive, and the paraphrases to drop — this
    is the "keep best, not first" step every dedup writeup glosses
    over.

    `labels` is any (doc_id, keep_id) labeling (exact, normalized,
    minhash, SemDeDup — they all emit this shape); `scores` is any
    (doc_id, <score_col>) quality signal (token count, distilled gate
    p, perplexity-gate logprob…). One (doc_id) equi-join + one
    per-group rank-limit window (WindowGroupLimit per-partition cut,
    the topk shape keyed by group instead of query) + one join back —
    nothing corpus-sized crosses more than the group-key shuffle.
    """
    g = labels.select("doc_id", "keep_id").join(
        scores.select("doc_id", F.col(score_col).alias("_s")), "doc_id"
    )
    reps = _rank_cut(
        g, 1, ["keep_id"], F.col("_s").desc(), F.col("doc_id").asc()
    ).select("keep_id", F.col("doc_id").alias("rep_id"))
    return (
        labels.select("doc_id", "keep_id")
        .join(reps, "keep_id")
        .select("doc_id", "rep_id")
    )
