"""Physical-plan audits: the properties that make this engine viable at
100 TB must be visible in `explain`, not just asserted in docstrings.

- term predicates reach the parquet scan (PushedFilters: In(term, ...))
  → posting-list lookups are O(matched postings) IO, not O(index);
- column pruning keeps `html` (the fat binary column) out of every scan
  that doesn't decode it (ReadSchema);
- query-time scoring broadcasts the small sides (query terms,
  term_stats∩terms) — no shuffle of the postings relation;
- the fused pages→index path equals the chained path (result parity for
  the scale optimization);
- each page's html crosses to Python once (one ArrowEvalPython per
  extraction UDF per lineage), and a build → write → read runs no job
  that does no index work.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from search_engine_spark.operators.index_build import (
    build_index,
    build_index_from_pages,
    prepare_docs,
    read_index,
    write_index,
)
from search_engine_spark.operators.query import queries_to_terms, score_bm25
from search_engine_spark.sources.corpus import synth_pages


@pytest.fixture(scope="module")
def stored_index(spark, tmp_path_factory):
    pages = synth_pages(spark, 150, seed=13).cache()
    idx = build_index_from_pages(pages)
    path = str(tmp_path_factory.mktemp("idx"))
    write_index(idx, path)
    return pages, read_index(spark, path)


def _plan(df) -> str:
    """Capture df.explain('formatted') output as a string."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_filter_pushed_to_scan(spark, stored_index):
    _, idx = stored_index
    terms = ["hippopotamus", "ladder"]
    plan = _plan(idx.postings.filter(F.col("term").isin(terms)))
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan[:2000]


def test_html_pruned_when_text_trusted(spark):
    pages = synth_pages(spark, 50, seed=13)
    docs = prepare_docs(pages, id_method="hash")  # recompute_text=False
    plan = _plan(docs)
    # mapInPandas source has no parquet scan; write+read to get a scan
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        pages.write.parquet(f"{tmp}/p")
        stored = spark.read.parquet(f"{tmp}/p")
        plan = _plan(prepare_docs(stored, id_method="hash"))
        assert "ReadSchema" in plan
        # the fat binary column must not be read
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "html" not in read_schema, read_schema


def test_bm25_plan_broadcasts_small_sides(spark, stored_index):
    _, idx = stored_index
    qt = queries_to_terms(spark, ["hippopotamus ladder"])
    plan = _plan(score_bm25(idx, qt, k=10, terms=["hippopotamus", "ladder"]))
    assert "BroadcastHashJoin" in plan
    # the postings side must NOT appear under a shuffle-exchange join:
    # the only exchange allowed before the agg is the groupBy itself
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_fused_equals_chained(spark):
    pages = synth_pages(spark, 200, seed=31).cache()
    chained = build_index(prepare_docs(pages, id_method="hash", recompute_text=True))
    fused = build_index_from_pages(pages)
    pa = {
        (r["term"], r["doc_id"], r["tf"])
        for r in chained.postings.select("term", "doc_id", "tf").collect()
    }
    pb = {
        (r["term"], r["doc_id"], r["tf"])
        for r in fused.postings.select("term", "doc_id", "tf").collect()
    }
    assert pa == pb
    assert chained.n_docs == fused.n_docs
    assert chained.avgdl == pytest.approx(fused.avgdl, rel=1e-12)


def _arrow_evals(df) -> int:
    """ArrowEvalPython nodes in df's optimized plan: one per pandas-UDF
    evaluation, so each page's html crosses to Python that many times."""
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "ArrowEvalPython"
    )


def test_extraction_udf_runs_once_per_lineage(spark):
    """A filter over a pandas-UDF result is pushed below the projection
    that computes it, where it calls the UDF a second time; the build
    and the chained text path must consume each result in ONE operator."""
    pages = synth_pages(spark, 50, seed=13)
    idx = build_index_from_pages(pages)
    idx.unpersist()
    # fresh frames over the unpersisted relations plan the whole lineage;
    # postings reads raw postings twice (true postings ⋈ doc_stats)
    assert _arrow_evals(idx.doc_stats.select("*")) == 1
    assert _arrow_evals(idx.term_stats.select("*")) == 1
    assert _arrow_evals(idx.postings.select("*")) == 2
    for id_method in ("hash", "dense"):
        docs = prepare_docs(pages, id_method=id_method, recompute_text=True)
        assert _arrow_evals(docs) == 1, id_method


def test_fused_keeps_empty_and_stopword_only_pages_like_chained(spark):
    """An empty-text page stays out of N; a page whose tokens all
    stop-filter away counts in N with dl 0 (its marker row), on the
    fused and the chained path alike."""
    rows = [
        ("https://a.example/1", b"<html><body><p>hippopotamus ladder ladder</p></body></html>"),
        ("https://a.example/2", b"<html><body></body></html>"),
        ("https://a.example/3", b"<html><body><p>the of and</p></body></html>"),
        ("https://a.example/4", b"<html><body><p>ladder of rope</p></body></html>"),
    ]
    pages = spark.createDataFrame(
        [(u, h, "en") for u, h in rows], "url string, html binary, lang string"
    )
    chained = build_index(prepare_docs(pages, id_method="hash", recompute_text=True))
    fused = build_index_from_pages(pages)
    ids = [r[0] for r in pages.select(F.xxhash64("url")).collect()]
    dl = {r["doc_id"]: r["dl"] for r in fused.doc_stats.collect()}
    assert dl == {r["doc_id"]: r["dl"] for r in chained.doc_stats.collect()}
    assert dl == {ids[0]: 3, ids[2]: 0, ids[3]: 2}
    assert fused.n_docs == chained.n_docs == 3
    assert fused.avgdl == chained.avgdl == 5 / 3
    for idx in (fused, chained):
        assert idx.postings.filter(F.col("term").isNull()).count() == 0


def test_build_write_read_runs_at_most_fifteen_jobs(spark, stored_index, tmp_path):
    """build_index_from_pages → write_index → read_index pays no job
    that does no index work: the read knows its schemas (no inference
    job per table), a corpus under the salt floor skips the skew probe,
    and the one-row meta table is a driver-local relation."""
    pages, _ = stored_index
    path = str(tmp_path / "idx")

    def build_write_read():
        idx = build_index_from_pages(pages)
        write_index(idx, path)
        read_index(spark, path)
        idx.unpersist()

    assert _jobs(spark, build_write_read) <= 15


def test_minhash_single_md5_per_row(spark):
    """The 64 MinHash permutations must derive from ONE materialized md5
    base column: Catalyst's CollapseProject would otherwise inline the
    md5 into all 64 permutation expressions (measured 1.6× slower at
    sf0.1 and linearly worse with signature width)."""
    from search_engine_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    sigs = minhash_signatures(docs, 64)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") <= 2, (
        f"md5 appears {plan.count('md5')} times — base hash duplicated "
        "into the permutation columns"
    )


def test_ivf_assignment_is_narrow(spark):
    """IVF cell assignment must be a shuffle-free map (literal seed
    math inside the scan stage) — an Exchange here would mean the
    10^12-row assignment pays a sort/shuffle it doesn't need."""
    from search_engine_spark.operators.similarity import ivf_assign, ivf_seeds

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    seeds = ivf_seeds(emb, 8)
    plan = _plan(ivf_assign(emb, seeds).filter(F.col("cell") == seeds[0][0]))
    assert "Exchange" not in plan, plan[:1500]


def test_lsh_sorted_default_probe_pushes_sig_to_scan(spark, tmp_path):
    """The LSH index layout: t is a PartitionFilter and the sig
    predicate is PUSHED to the parquet scan, where the sig-sorted row
    groups make min/max skipping effective. lsh_index_add and
    lsh_index_compact write through the same writer, so the probe keeps
    that shape after each."""
    import pathlib

    from search_engine_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_add,
        lsh_index_compact,
        lsh_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "lsh_sorted")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    def check(step):
        assert [d for d in pathlib.Path(path).glob("t=*") if d.is_dir()], step
        assert not [
            d for d in pathlib.Path(path).glob("t=*/sig=*") if d.is_dir()
        ], step
        plan = _plan(lsh_index_topk(spark, path, qvec, query_vec_id=0))
        part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert part_lines and "t" in part_lines[0], (step, plan[:3000])
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert pushed, (step, plan[:3000])
        assert "sig" in pushed[0], (step, pushed[0])
        assert "In(" in pushed[0] or "IN" in pushed[0], (step, pushed[0])

    build_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    check("build")
    lsh_index_add(emb.filter(F.col("vec_id") % 2 == 1), path)
    check("add")
    lsh_index_compact(spark, path)
    check("compact")


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    from search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    probe = ivf_index_topk(spark, path, qvec, query_vec_id=0, n_probe=4)
    plan = _plan(probe)
    scan_part = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l and "cell" in l
    ]
    assert scan_part, plan[:3000]
    assert " IN " in scan_part[0] or " INSET " in scan_part[0], scan_part[0]


def test_vector_probe_plan_shapes(spark, tmp_path):
    """The index probes keep their serving shapes: a batch probe routes
    candidates through broadcast joins (never a sort-merge shuffle of
    the index) and cuts each query's top-k with a per-partition group
    limit; a single probe is one TakeOrderedAndProject, no window."""
    from search_engine_spark.operators.similarity import (
        build_ivf_index,
        build_lsh_index,
        ivf_index_topk,
        ivf_index_topk_batch,
        lsh_index_topk,
        lsh_index_topk_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    build_lsh_index(emb, str(tmp_path / "lsh"))
    build_ivf_index(emb, str(tmp_path / "ivf"))
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    lsh, ivf = str(tmp_path / "lsh"), str(tmp_path / "ivf")
    for batch in (
        lsh_index_topk_batch(spark, lsh, qvecs),
        ivf_index_topk_batch(spark, ivf, qvecs),
    ):
        plan = _plan(batch)
        assert "BroadcastHashJoin" in plan, plan[:3000]
        assert "WindowGroupLimit" in plan, plan[:3000]
        assert "SortMergeJoin" not in plan, plan[:3000]
    for single in (
        lsh_index_topk(spark, lsh, qvecs[0], query_vec_id=0),
        ivf_index_topk(spark, ivf, qvecs[0], query_vec_id=0),
    ):
        top = single._jdf.queryExecution().sparkPlan().nodeName()
        assert top == "TakeOrderedAndProject", top
        assert "Window" not in _plan(single)


def test_fetch_partitions_by_domain_for_politeness(spark):
    """The politeness contract is structural: the fetch plan must show
    ONE hashpartitioning exchange on the registrable-domain column
    before the mapInPandas fetch — that partitioner is the per-domain
    serialization lock, and it must be the fetch's only shuffle."""
    from search_engine_spark.sources.fetch import DeterministicTransport, fetch_pages

    frontier = spark.createDataFrame(
        [(f"https://site{i}.example/p{i}",) for i in range(8)], "url string"
    )
    plan = _plan(fetch_pages(frontier, transport=DeterministicTransport()))
    shuffles = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert shuffles and all("_dom" in l for l in shuffles), plan[:3000]
    # exactly one shuffle: the domain repartition (no downstream shuffle
    # re-scatters a domain's urls across tasks)
    assert len(shuffles) == 1, shuffles


def test_sample_corpus_is_scan_stage_only(spark):
    """The hash-split sample is a pure Catalyst predicate: no Exchange,
    no Python — the filter rides the scan stage at any scale."""
    from search_engine_spark.operators.pipelines import sample_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for family in ("xxhash64", "portable"):
        plan = _plan(sample_corpus(docs, 0.25, family=family))
        assert "Exchange" not in plan, plan[:2000]
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_encode_and_adc_are_shuffle_free(spark):
    """The PQ serving path's whole point: encode is a narrow
    literal-centroid map and the ADC query is LUT lookups over the
    packed codes + TakeOrdered — NO Exchange anywhere. A shuffle here
    would mean the 10^12-row code scan pays a sort it doesn't need."""
    from search_engine_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books = pq_train(emb, m=8, ks=16, iters=0)

    enc_plan = _plan(pq_encode(emb, books))
    assert "Exchange" not in enc_plan, enc_plan[:1500]

    adc_plan = _plan(pq_adc_topk(emb, books, 0, k=10))
    assert "Exchange" not in adc_plan, adc_plan[:1500]
    assert "TakeOrderedAndProject" in adc_plan


def test_did_you_mean_vocab_is_not_shuffled_before_distance(spark, stored_index):
    """Suggestion candidates come from ONE pass over the stored
    term_stats with the broadcast query terms — the vocabulary reaches
    the distance filter straight off its parquet scan (no SortMergeJoin
    against the big side); the only Exchange is the per-term top-1
    window over the few surviving candidates."""
    from search_engine_spark.operators.query import did_you_mean

    _, idx = stored_index
    plan = _plan(did_you_mean(idx, ["zzqqzz"], max_dist=2))
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]
    # serving off the stored index: exactly one shuffle Exchange (the
    # window) — broadcasts of the tiny query side don't count
    import re

    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan[:2000]


def test_prefix_terms_pushes_startswith_to_scan(spark, stored_index):
    """The wildcard primitive must be a dictionary RANGE scan: the
    startswith predicate reaches the parquet reader as a pushed
    StringStartsWith so row-group stats skip the rest of the sorted
    term dictionary."""
    from search_engine_spark.operators.query import prefix_terms

    _, idx = stored_index
    plan = _plan(prefix_terms(idx, "sp"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "StringStartsWith" in pushed, pushed


def test_positional_probe_is_pruned_scan_no_tokenizer(spark, tmp_path):
    """The serving path for phrase/proximity probes the MATERIALIZED
    positional index: term predicates reach the parquet scan as
    PushedFilters and no Python UDF (tokenizer) appears anywhere in the
    plan — the corpus is never re-tokenized at query time."""
    from search_engine_spark.operators.phrase import (
        phrase_search,
        positional_postings,
        proximity_bm25,
        read_positional_index,
        write_positional_index,
    )
    from search_engine_spark.operators.text_analytics import ws_tokens

    pages = synth_pages(spark, 80, seed=13)
    docs = prepare_docs(pages, id_method="hash").select("doc_id", "text")
    path = str(tmp_path / "posidx")
    write_positional_index(positional_postings(docs, ws_tokens), path)
    pidx = read_positional_index(spark, path)

    plan = _plan(phrase_search(None, ["the", "and"], k=10, pos_index=pidx))
    assert "PushedFilters" in plan
    assert "EqualTo(term" in plan or "In(term" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan

    index = build_index(docs, tokenizer=ws_tokens)
    qt = spark.createDataFrame(
        [(0, "the"), (0, "and")], "query_id int, term string"
    )
    plan2 = _plan(
        proximity_bm25(
            index, None, qt, k=10, terms=["the", "and"], pos_index=pidx
        )
    )
    # the probe side scans the stored index with the isin pushed down;
    # the BM25 side still tokenizes (its index is in-memory here), so
    # only assert the PROBE has no tokenizer by checking the pushed
    # filter reaches a parquet scan of the positional relation
    assert "In(term" in plan2, plan2[:3000]


def test_best_passage_probe_is_pruned_scan(spark, tmp_path):
    """best_passage over the materialized positional index: the query
    terms' isin reaches the parquet scan, no tokenizer UDF in the plan."""
    from search_engine_spark.operators.phrase import (
        best_passage,
        positional_postings,
        read_positional_index,
        write_positional_index,
    )
    from search_engine_spark.operators.text_analytics import ws_tokens

    pages = synth_pages(spark, 80, seed=13)
    docs = prepare_docs(pages, id_method="hash").select("doc_id", "text")
    path = str(tmp_path / "posidx_bp")
    write_positional_index(positional_postings(docs, ws_tokens), path)
    pidx = read_positional_index(spark, path)

    plan = _plan(best_passage(pidx, ["the", "and"], passage_size=16, k=10))
    assert "PushedFilters" in plan
    assert "In(term" in plan or "EqualTo(term" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_wildcard_terms_is_scan_stage_only(spark, stored_index):
    """General-wildcard expansion stays dictionary-sized: the anchored
    segment reaches the parquet reader as a pushed StringStartsWith,
    the gram-containment + LIKE post-filters run in the same scan
    stage (no explode, no gram-index shuffle), and the capped
    TakeOrdered is the only wide-ish op — zero shuffle Exchanges."""
    import re

    from search_engine_spark.operators.query import wildcard_terms

    _, idx = stored_index
    plan = _plan(wildcard_terms(idx, "sp*k*"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "StringStartsWith" in pushed, pushed
    assert "Generate" not in plan, plan[:1500]  # no gram explode
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert shuffles == [], plan[:2000]


def test_suffix_probe_pushes_reversed_startswith(spark, stored_index, tmp_path):
    """Leading-wildcard serving probes the materialized REVERSED
    dictionary: the reversed suffix reaches the parquet reader as a
    pushed StringStartsWith on the range-sorted rterm column — a range
    seek, not a dictionary scan."""
    from search_engine_spark.operators.query import (
        suffix_terms,
        write_reversed_dictionary,
    )

    _, idx = stored_index
    path = str(tmp_path / "rdict")
    write_reversed_dictionary(idx, path)
    plan = _plan(suffix_terms(spark, path, "ing"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "StringStartsWith(rterm" in pushed, pushed


def test_quantized_probe_is_pruned_integer_scan(spark, tmp_path):
    """The persisted quantized index serves by a pushed-filter parquet
    scan (term isin reaches PushedFilters) and the hot aggregate sums
    INTEGERS — no Python UDF, no floating-point column in the agg."""
    from search_engine_spark.operators.impact import (
        quantize_impacts,
        quantized_search,
        read_quantized_index,
        write_quantized_index,
    )
    from search_engine_spark.operators.text_analytics import ws_tokens

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    idx = build_index(docs, tokenizer=ws_tokens)
    path = str(tmp_path / "qidx")
    write_quantized_index(quantize_impacts(idx, bits=8), path)
    qidx = read_quantized_index(spark, path)

    out = quantized_search(qidx, spark, ["spark", "merge"], k=10)
    plan = _plan(out)
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # round-trip sanity: persisted probe equals in-memory probe
    mem = quantized_search(
        quantize_impacts(idx, bits=8), spark, ["spark", "merge"], k=10
    )
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in mem.collect()]


def test_autocomplete_prefix_side_pushes_startswith(spark, stored_index):
    """autocomplete's prefix candidates must reach the persisted term
    dictionary as a pushed StringStartsWith (a range probe of the
    sorted dictionary), and the whole suggest plan must stay free of
    Python UDFs."""
    from search_engine_spark.operators.query import autocomplete

    _, idx = stored_index
    plan = _plan(autocomplete(idx, "sp", n=10))
    assert "PushedFilters" in plan
    assert "StringStartsWith" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_corrected_probe_is_dictionary_seek(spark, stored_index):
    """corrected_search's probe (after the driver-side substitution)
    must push the corrected term set into the postings scan as an In
    filter - the same dictionary-seek shape as plain search."""
    from search_engine_spark.operators.query import corrected_search

    _, idx = stored_index
    plan = _plan(corrected_search(idx, ["the", "and"], k=10))
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan[:3000]


def test_forward_index_probe_prunes_on_doc_id(spark, tmp_path):
    """The doc-partitioned forward layout must serve doc_id point
    lookups as a pushed-filter scan (the orientation the term layout
    cannot prune), and the probe side must broadcast into the
    vocabulary join - the big term dimension never shuffles."""
    from search_engine_spark.operators.forward import (
        read_forward_index,
        termvectors,
        write_forward_index,
    )
    from search_engine_spark.operators.text_analytics import ws_tokens

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    idx = build_index(docs, tokenizer=ws_tokens)
    path = str(tmp_path / "fwd")
    write_forward_index(idx, path)
    fwd = read_forward_index(spark, path)

    out = termvectors(fwd["docterms"], fwd["term_dim"], [1, 2, 3])
    plan = _plan(out)
    assert "PushedFilters" in plan
    assert "In(doc_id" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan
    # round-trip: persisted probe equals live-index probe
    live = termvectors(
        idx.postings.select("doc_id", "term", "tf"),
        idx.term_stats.select("term", "df", "idf"),
        [1, 2, 3],
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, live.collect())
    )


def test_serving_extras_keep_the_bm25_plan_shape(spark, stored_index):
    """Every BM25 serving variant adds zero shuffles over score_bm25:
    same broadcast dictionary-seek, same pushed In(term) predicate.
    ltr_features also joins the doc-sized doc_stats, so only its
    pushed term filter is asserted."""
    from search_engine_spark.operators.ltr import ltr_features
    from search_engine_spark.operators.query import (
        champion_search,
        msm_search,
        search_after,
        sharded_search,
        synonym_search,
        tombstone_search,
        wildcard_search,
    )

    _, idx = stored_index
    q = {0: "hippopotamus ladder"}
    terms = ["hippopotamus", "ladder"]
    qt = queries_to_terms(spark, q)
    deleted = idx.doc_stats.select("doc_id").limit(3)
    for df in (
        msm_search(idx, spark, q, k=10, min_should_match=2),
        synonym_search(idx, spark, q, {"ladder": ["hippopotamus"]}, k=10),
        score_bm25(idx, qt, k=10, terms=terms, mode="and"),
        tombstone_search(idx, deleted, terms, k=10),
        search_after(idx, terms, k=10, after=(1.0, 0)),
        sharded_search(idx, terms, n_shards=4, k=10),
        champion_search(idx, spark, q, m=8, k=10),
        # a multi-term expansion: a one-literal isin compiles to EqualTo
        wildcard_search(idx, spark, "la*", k=10),
    ):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan, plan[:3000]
        assert "In(term" in plan, plan[:2000]
    plan = _plan(ltr_features(idx, qt, terms=terms))
    assert "In(term" in plan, plan[:2000]


def test_decay_search_pushes_term_filter(spark, stored_index):
    """decay_search's extra ages join happens AFTER the per-doc
    aggregate (on the matched-docs relation, not the postings scan);
    the dictionary seek must still reach the scan."""
    from search_engine_spark.operators.query import decay_search

    _, idx = stored_index
    ages = idx.doc_stats.select(
        "doc_id", (F.col("doc_id") % 365).cast("double").alias("age_days")
    )
    plan = _plan(decay_search(idx, spark, {0: "hippopotamus ladder"}, ages, k=10))
    assert "In(term" in plan, plan[:2000]


def test_facet_top_hits_rank_cut_is_group_limit(spark, stored_index):
    """top_hits_by_facet's rn <= n filter must compile to
    WindowGroupLimit (per-partition group-limit before the bucket
    sort), and the postings match must stay broadcast-joined."""
    from search_engine_spark.operators.query import top_hits_by_facet

    _, idx = stored_index
    qt = spark.createDataFrame(
        [(0, "hippopotamus"), (0, "ladder")], "query_id int, term string"
    )
    dims = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("source"),
    )
    plan = _plan(
        top_hits_by_facet(
            idx, qt, dims, "source", n=3, terms=["hippopotamus", "ladder"]
        )
    )
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan


def test_significant_terms_never_shuffles_postings_on_doc(spark, stored_index):
    """The foreground hit set must be BROADCAST into the postings join
    (no SortMergeJoin anywhere): at corpus scale a doc_id-keyed shuffle
    of postings would dwarf the query itself."""
    from search_engine_spark.operators.query import significant_terms

    _, idx = stored_index
    qt = spark.createDataFrame(
        [(0, "hippopotamus")], "query_id int, term string"
    )
    plan = _plan(
        significant_terms(idx, qt, k_hits=20, terms=["hippopotamus"])
    )
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("scorer", ["lm_dirichlet", "jm", "absolute_discount"])
def test_lm_scorers_keep_the_serving_plan_shape(spark, stored_index, scorer):
    """Each LM smoother serves on the shared match: the dictionary seek
    reaches the postings scan, the small sides are broadcast and the
    per-query cut compiles to WindowGroupLimit."""
    from search_engine_spark.operators.query import search

    _, idx = stored_index
    plan = _plan(search(idx, spark, {0: "hippopotamus ladder"}, scorer=scorer))
    assert "In(term" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_bm25f_keeps_the_serving_plan_shape(spark, stored_index):
    """score_bm25f prunes the body postings at the scan, broadcasts the
    query terms and cuts per query with WindowGroupLimit."""
    from search_engine_spark.operators.query import score_bm25f

    _, idx = stored_index
    terms = ["hippopotamus", "ladder"]
    anchors = idx.doc_stats.limit(20).select(
        "doc_id",
        F.lit("ladder").alias("term"),
        F.lit(2).cast("long").alias("tf_anchor"),
    )
    qt = queries_to_terms(spark, {0: "hippopotamus ladder"})
    plan = _plan(score_bm25f(idx, anchors, qt, k=10, terms=terms))
    assert "In(term" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan, plan[:3000]


def _jobs(spark, action) -> int:
    """Spark jobs `action()` runs, counted through a job group of its own."""
    import uuid

    sc, group = spark.sparkContext, f"plans-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_BATCH = {
    0: "hippopotamus ladder",
    1: "ladder",
    3: "zzzunknownzzz hippopotamus",
    4: "the of",
    7: "ladder hippopotamus ladder",
}


def test_search_runs_at_most_five_jobs(spark, stored_index):
    """A search request pays no fixed job beyond its postings work: the
    term table is a LocalRelation (no job to broadcast it), the term
    dictionary is not semi-joined against it a second time, and the
    sorted output needs no range-partition sampling job."""
    from search_engine_spark.operators.query import search

    _, idx = stored_index
    for q in ({0: "hippopotamus ladder"}, _BATCH):
        assert _jobs(spark, search(idx, spark, q).collect) <= 5, q
        plan = _plan(search(idx, spark, q))
        assert "Scan ExistingRDD" not in plan, plan[:3000]
        assert "rangepartitioning" not in plan, plan[:3000]
        assert "In(term" in plan, plan[:2000]
        assert "BroadcastHashJoin" in plan
        assert "WindowGroupLimit" in plan, plan[:3000]


def test_search_output_is_sorted_across_shuffle_partitions(spark, stored_index):
    """With several shuffle partitions and no AQE coalescing, a batch
    still comes back in exactly (query_id, score DESC, doc_id ASC)."""
    from search_engine_spark.operators.query import search

    _, idx = stored_index
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
        rows = [tuple(r) for r in search(idx, spark, _BATCH, k=50).collect()]
    finally:
        spark.conf.set(key, old)
    assert len({r[0] for r in rows}) > 1
    assert rows == sorted(rows, key=lambda r: (r[0], -r[2], r[1]))


def test_absolute_discount_aggregates_du_once(spark, stored_index):
    """|d|_u (a full-postings aggregate) enters absolute discount once:
    its columns ride through the score aggregate instead of being
    joined again after it."""
    from search_engine_spark.operators.query import search

    _, idx = stored_index
    df = search(idx, spark, _BATCH, scorer="absolute_discount")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count(" AS du#") == 1, plan


@pytest.fixture(scope="module")
def pages300(spark):
    pages = synth_pages(spark, 300, seed=13).cache()
    yield pages
    pages.unpersist()


_STORED = ["term", "doc_id", "tf", "dl"]


def _rows(df, cols) -> list[tuple]:
    return sorted(map(tuple, df.select(*cols).collect()))


@pytest.mark.parametrize("params", [{}, {"k1": 1.5, "b": 0.5}])
def test_written_postings_store_dl_and_read_derives_tf_norm(
    spark, pages300, tmp_path, params
):
    """The written postings hold (term, doc_id, tf, dl) only; meta
    carries k1 and b, so the read index derives the build's tf_norm
    bit for bit, for the default and a non-default (k1, b)."""
    built = build_index_from_pages(pages300, **params)
    path = str(tmp_path / "idx")
    write_index(built, path)
    assert spark.read.parquet(f"{path}/postings").columns == _STORED
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    assert (meta["k1"], meta["b"]) == (built.k1, built.b)
    read = read_index(spark, path)
    assert (read.k1, read.b, read.avgdl) == (built.k1, built.b, built.avgdl)
    cols = _STORED + ["tf_norm"]
    assert _rows(read.postings, cols) == _rows(built.postings, cols)
    built.unpersist()


def test_search_reads_dl_not_tf_norm(spark, stored_index):
    """search over the stored index scans (term, doc_id, tf, dl) with the
    term filter pushed, derives tf_norm on the matched rows and still
    runs at most 5 jobs."""
    import re

    from search_engine_spark.operators.query import search

    _, idx = stored_index
    plan = _plan(search(idx, spark, _BATCH))
    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert "struct<term:string,doc_id:bigint,tf:int,dl:bigint>" in schemas, schemas
    assert not any("tf_norm" in s for s in schemas), schemas
    assert "In(term" in plan, plan[:2000]
    assert _jobs(spark, search(idx, spark, _BATCH).collect) <= 5


@pytest.mark.parametrize("params", [{}, {"k1": 1.5, "b": 0.5}])
def test_delete_and_prune_hold_on_a_read_index(spark, pages300, tmp_path, params):
    """delete_docs over a re-read index equals a rebuild without the
    deleted pages, column for column (tf_norm re-derived with the k1/b
    meta carried); prune_index keeps the survivors' tf_norm."""
    from search_engine_spark.operators.index_build import delete_docs, prune_index

    built = build_index_from_pages(pages300, **params)
    path = str(tmp_path / "idx")
    write_index(built, path)
    built.unpersist()
    read = read_index(spark, path)

    gone = read.doc_stats.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    deleted = delete_docs(read, gone)
    fresh = build_index_from_pages(
        pages300.withColumn("doc_id", F.xxhash64("url"))
        .join(gone, "doc_id", "left_anti")
        .drop("doc_id"),
        **params,
    )
    assert 0 < deleted.n_docs == fresh.n_docs < read.n_docs
    assert deleted.avgdl == pytest.approx(fresh.avgdl, rel=1e-12)
    assert (deleted.k1, deleted.b) == (fresh.k1, fresh.b) == (read.k1, read.b)
    for a, b in (
        (deleted.term_stats, fresh.term_stats),
        (deleted.doc_stats, fresh.doc_stats),
        (deleted.postings, fresh.postings),
    ):
        assert _rows(a, a.columns) == _rows(b, a.columns)
    deleted.unpersist()
    fresh.unpersist()

    pruned = prune_index(read, min_df=2, max_df_ratio=0.5)
    kept = pruned.term_stats.select("term")
    cols = _STORED + ["tf_norm"]
    survivors = _rows(pruned.postings, cols)
    assert 0 < len(survivors) < read.postings.count()
    assert survivors == _rows(read.postings.join(kept, "term", "left_semi"), cols)


def test_length_tails_read_dl_from_the_postings(spark, stored_index):
    """Dirichlet's and absolute discount's length tail, rescore_topk's
    Dirichlet pass and ltr_features take dl from the matched postings
    (a group key of the score aggregate): no plan joins doc_stats."""
    import re

    from search_engine_spark.operators.ltr import ltr_features
    from search_engine_spark.operators.query import (
        rescore_topk,
        score_lm_dirichlet,
        search,
    )

    _, idx = stored_index
    terms = ["hippopotamus", "ladder"]
    qt = queries_to_terms(spark, {0: "hippopotamus ladder"})
    frames = {
        "dirichlet": score_lm_dirichlet(idx, qt, terms=terms),
        "absolute_discount": search(idx, spark, _BATCH, scorer="absolute_discount"),
        "rescore_topk": rescore_topk(idx, spark, _BATCH),
        "ltr_features": ltr_features(idx, qt, terms=terms),
    }
    for name, df in frames.items():
        plan = re.sub(
            r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "Relation [doc_id#,dl#]" not in plan, (name, plan)
        assert "Relation [term#,doc_id#,tf#,dl#]" in plan, (name, plan)
