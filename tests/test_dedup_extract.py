"""Per-partition extraction memo: identical contents colocated in one task
are parsed once, invisibly in the output."""

from __future__ import annotations

from smart_pdf_md_spark.plans.pipeline import build_mentions


def test_extraction_memo_is_partitioning_invariant(spark, corpus_sdf):
    """The per-partition extraction memo must be invisible in the output:
    coalesce(1) colocates EVERY vendored duplicate (max memo hits) and must
    produce byte-identical rows to an 8-way split (mostly misses)."""
    from pyspark.sql import functions as F

    # the fixture must hold identical contents, or no memo hit is tested
    n_contents = corpus_sdf.select(F.sha2("content", 256), "lang") \
        .distinct().count()
    assert n_contents < corpus_sdf.count()

    def rows(df):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in build_mentions(spark, df).collect())

    assert rows(corpus_sdf.coalesce(1)) == rows(corpus_sdf.repartition(8))
