"""Physical-plan audits (SURVEY.md §4.2): the properties that matter at
100 TB, asserted so a refactor can't silently regress them."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import __spark_entry__ as em
from smart_pdf_md_spark.plans.pipeline import build_mentions

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_column_pushdown(spark):
    p = _plan(em.queries()["s1_scan_project"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # projection pruned to exactly the 4 referenced columns at the scan
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_quantity" not in rs and "l_comment" not in rs


def test_small_dim_join_is_broadcast(spark):
    p = _plan(em.queries()["j1_broadcast_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_anti_and_semi_joins(spark):
    assert "LeftAnti" in _plan(em.queries()["j4_anti_join"](spark, SF))


def test_extraction_has_no_shuffle(spark, corpus_sdf):
    """The engine stage is scan-side: content must never hit an Exchange."""
    p = _plan(build_mentions(spark, corpus_sdf))
    before_udf = p.split("MapInPandas")[0]
    assert "Exchange" not in before_udf


def test_aggregate_is_partial(spark):
    """groupBy does map-side combine (two HashAggregate levels)."""
    p = _plan(em.queries()["q1_pricing_summary"](spark, SF))
    assert p.count("HashAggregate") >= 2


def test_canonical_entity_join_is_broadcast(spark, corpus_sdf):
    from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
    from smart_pdf_md_spark.operators.extract import mentions_only
    from smart_pdf_md_spark.operators.linking import (
        checkpointed_vocabulary,
        link_edges,
    )
    from smart_pdf_md_spark.plans.pipeline import triples_from_mentions

    m = mentions_only(build_mentions(spark, corpus_sdf)).localCheckpoint()
    names = checkpointed_vocabulary(m)
    ents = entity_table(m, link_edges(m, names=names), names=names)
    canon = canonical_triples(triples_from_mentions(m, distinct=False), ents)
    assert "BroadcastHashJoin" in _plan(canon)


def test_chunking_is_scan_side(spark):
    """chunk_documents rides the scan: no Exchange anywhere in the plan, and
    the read schema is pruned to (doc_id, text)."""
    p = _plan(em.queries()["text_chunking"](spark, SF))
    assert "Exchange" not in p
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in rs and "text" in rs and "lang" not in rs


def test_triples_dedup_is_hash_aggregate(spark, corpus_sdf):
    """The lineage-keeping dedup must stay a HashAggregate: min over the
    mention_id STRING has no fixed-width agg buffer and silently demotes the
    plan to SortAggregate (two extra sorts around the exchange at scale) —
    the numeric-decimal min keeps hash aggregation, and the recovered hex
    equals the true string min on every triple."""
    from pyspark.sql import functions as F

    from smart_pdf_md_spark.operators.extract import mentions_only
    from smart_pdf_md_spark.plans.pipeline import triples_from_mentions

    m = mentions_only(build_mentions(spark, corpus_sdf))
    t = triples_from_mentions(m)
    plan = _plan(t)
    assert "SortAggregate" not in plan, "string-min demoted the dedup agg"
    assert "HashAggregate" in plan

    keys = ["subj", "pred", "obj", "file_id", "repo", "content_sha256", "conf"]
    want = (triples_from_mentions(m, distinct=False)
            .groupBy(*keys).agg(F.min("mention_id").alias("want")))
    j = t.join(want, keys)
    assert j.count() == t.count()
    assert j.filter(F.col("mention_id") != F.col("want")).count() == 0


def test_range_join_is_hash_join_never_nested_loop(spark):
    """The binned range join exists precisely so Spark never plans the
    interval predicate as BroadcastNestedLoopJoin (O(n·m)); the bin column
    must make it a hash equi-join. Pinned on the driver-board query."""
    p = _plan(em.queries()["j8_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "HashJoin" in p  # Broadcast- or Shuffled- both fine


def test_mean_pool_is_single_aggregate_no_explode(spark):
    """mean_pool must pool dim-wide agg state in ONE groupBy — a
    posexplode-based formulation would multiply the shuffle by dim (64×)."""
    p = _plan(em.queries()["mean_pool"](spark, SF))
    assert "Generate" not in p  # no explode/posexplode anywhere
    assert p.count("Exchange") <= 2  # the one groupBy (+AQE reads)


def test_ngram_jaccard_plan_parallel_and_capped(spark):
    """The two load-bearing physical properties of the Jaccard postings
    join: (1) the forced hash Exchange on `shingle` — without it Catalyst
    broadcasts both tiny sides and fuses the quadratic pair-count into ONE
    task; (2) the hot-posting cap as a broadcast LeftAnti join — the skew
    guard that keeps a boilerplate shingle from detonating the self-join."""
    p = _plan(em.queries()["dedup_ngram_jaccard"](spark, SF))
    assert "hashpartitioning(shingle" in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_bm25_corpus_stream_filters_before_any_exchange(spark):
    """BM25's scale shape (r5 VERDICT what's-wrong #1): the exploded corpus
    token stream is semi-joined against the BROADCAST query vocabulary
    BEFORE any Exchange, so the tf groupBy and everything downstream
    shuffles hits (query-term postings), never the corpus token stream;
    the query-term map and corpus stats also broadcast."""
    from smart_pdf_md_spark.operators.retrieval import bm25_topk
    from smart_pdf_md_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    queries = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], ["query_id", "query"])
    p = _plan(bm25_topk(docs, queries, k=5))
    assert p.count("BroadcastHashJoin") >= 2  # token semi join + qterms join
    assert "BroadcastHashJoin LeftSemi" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # the semi join's LEFT chain (scan → explode → join) must be
    # shuffle-free: in the tree text the chain prints between the join
    # line and its BroadcastExchange build side
    tree = p.split("\n\n")[0]
    start = tree.index("BroadcastHashJoin LeftSemi")
    chain = tree[start:start + tree[start:].index("BroadcastExchange")]
    assert "Generate" in chain          # the corpus token explode is here…
    assert "Exchange" not in chain      # …and nothing shuffles before it


def test_decontaminate_bench_side_broadcasts(spark):
    """Decontamination at 100 TB: the benchmark shingle set must BROADCAST
    (the corpus stream never shuffles for the probe); the only Exchange
    feeds the hits-sized per-doc count and the final left join."""
    from smart_pdf_md_spark.operators.dedup import decontaminate
    from smart_pdf_md_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    bench = spark.createDataFrame(
        [(1, " ".join(f"b{i}" for i in range(20)))], ["bench_id", "text"])
    p = _plan(decontaminate(docs, bench))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # corpus-side shingling rides the scan: no Exchange between the parquet
    # scan of documents and the broadcast probe join (the first Exchange in
    # the plan feeds the per-doc aggregation, not the probe)
    probe = p.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in probe


def test_tfidf_topk_pushes_into_window_sort(spark):
    """tfidf_keywords' rank<=k must compile to WindowGroupLimit (top-k heap
    per doc, never a full per-doc materialization), and document
    frequencies must come from an Aggregate + join — NEVER a per-term
    window (a stopword's window partition would hold one row per doc)."""
    from smart_pdf_md_spark.operators.retrieval import tfidf_keywords
    from smart_pdf_md_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    p = _plan(tfidf_keywords(docs, k=5))
    assert "WindowGroupLimit" in p
    # exactly one Window operator (the per-doc top-k); df adds none
    n_window_ops = len([ln for ln in p.splitlines()
                        if ln.strip().endswith(" Window")])
    assert n_window_ops == 1, p


def test_span_coverage_no_cartesian(spark):
    """span_coverage's interval union is window+agg only — no join blowup,
    no CartesianProduct."""
    from smart_pdf_md_spark.operators.dedup import span_coverage
    from smart_pdf_md_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    spans = spark.createDataFrame(
        [(1, 2, 0, 0, 60)], ["id_a", "id_b", "start_a", "start_b", "length"])
    p = _plan(span_coverage(docs, spans))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
