"""Round-5 training-data operators: benchmark decontamination, adaptive
per-stratum quality filtering, sequence packing, weighted sampling, and
cross-run stage-digest verification."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_pdf_md_spark.operators import dedup as D
from smart_pdf_md_spark.operators import textstats as TS


def _gram13_sql(arr: str) -> str:
    terms = " || ' ' || ".join(f"{arr}[i+{j}]" for j in range(13))
    return (f"CASE WHEN len({arr}) < 13 THEN []::VARCHAR[] "
            f"ELSE list_distinct(list_transform(range(1, len({arr}) - 11), "
            f"i -> {terms})) END")


def test_decontaminate_known_values_and_duckdb_parity(spark):
    """A doc embedding an exact 13-token benchmark sentence is flagged; a
    clean doc and a sub-13-token doc are not; counts match a DuckDB oracle
    computed over STRING grams (Spark side hashes them — equal counts pin
    that the hashing is semantically invisible)."""
    import duckdb
    import pandas as pd

    bench_sentence = ("the quick brown fox jumps over the lazy dog near "
                      "the stone bridge")  # exactly 13 tokens
    assert len(bench_sentence.split()) == 13
    filler = " ".join(f"w{i}" for i in range(20))
    docs_pd = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [f"{filler} {bench_sentence} {filler}",
                 " ".join(f"clean{i}" for i in range(40)),
                 "too short"],
    })
    bench_pd = pd.DataFrame({
        "bench_id": [100],
        "text": [f"prompt setup {bench_sentence} answer options"],
    })
    docs = spark.createDataFrame(docs_pd)
    bench = spark.createDataFrame(bench_pd)

    got = {r.id: r for r in D.decontaminate(docs, bench).collect()}
    assert got[1].contaminated and got[1].hit_grams >= 1
    assert not got[2].contaminated and got[2].hit_grams == 0
    assert got[3].n_grams == 0 and not got[3].contaminated
    assert 0.0 < got[1].contamination_ratio <= 1.0

    con = duckdb.connect()
    con.register("docs", docs_pd)
    con.register("bench", bench_pd)
    want = con.execute(f"""
    WITH dg AS (
      SELECT doc_id, {_gram13_sql('tk')} AS grams FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
        FROM docs)
    ), bg AS (
      SELECT list_distinct(flatten(list(grams))) AS bgrams FROM (
        SELECT {_gram13_sql('tk')} AS grams FROM (
          SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
          FROM bench))
    )
    SELECT doc_id, len(grams) AS n_grams,
           len(list_filter(grams, g -> list_contains(bgrams, g))) AS hit_grams
    FROM dg CROSS JOIN bg
    """).df().set_index("doc_id")
    for did, r in got.items():
        assert want.loc[did, "n_grams"] == r.n_grams, did
        assert want.loc[did, "hit_grams"] == r.hit_grams, did


def test_decontaminate_clean_corpus_all_clean(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(5)],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(1, " ".join(f"b{j}" for j in range(30)))], ["bench_id", "text"])
    out = D.decontaminate(docs, bench)
    assert out.count() == 5
    assert out.filter("contaminated").count() == 0


def test_adaptive_quality_filter_exact_rank_and_duckdb_parity(spark):
    """Top-frac-per-stratum keep set matches DuckDB percent_rank exactly
    (deterministic tie-break by doc_id)."""
    import duckdb

    rows = []
    for lang, base in (("en", 0), ("de", 100)):
        for i in range(6):
            # varying stopword-rich quality: longer, stoppier docs first
            body = ("the is on and of " * (6 - i)) + " ".join(
                f"x{base + i}_{j}" for j in range(5 + i))
            rows.append((base + i, body, lang))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    kept = TS.adaptive_quality_filter(docs, frac=0.5)
    got = {(r.doc_id, r.lang) for r in kept.select("doc_id", "lang").collect()}

    scored = docs.withColumn(
        "quality", TS.quality_cols(F.col("text"))["quality"]) \
        .select("doc_id", "lang", "quality").toPandas()
    con = duckdb.connect()
    con.register("scored", scored)
    want = con.execute("""
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 percent_rank() OVER (PARTITION BY lang
                                      ORDER BY quality DESC, doc_id) AS pr
          FROM scored)
        WHERE round(pr + 1e-9, 4) <= 0.5
    """).df()
    assert got == {(r.doc_id, r.lang) for r in want.itertuples(index=False)}
    # exactly ceil-ish half of each 6-doc stratum: pr values 0,.2,.4 <= .5
    assert kept.groupBy("lang").count().toPandas()["count"].tolist() == [3, 3]


def test_pack_sequences_invariants_and_determinism(spark):
    """Every chunk lands in exactly one pack; no pack exceeds the budget
    except overflow singletons; pack_tokens is the exact member sum; and
    the assignment is identical at 1-way and 8-way parallelism."""
    import random

    rng = random.Random(7)
    rows = [(d, c, f"text {d}/{c}", rng.randint(10, 900))
            for d in range(30) for c in range(rng.randint(1, 4))]
    rows.append((99, 0, "giant", 5000))  # overflow chunk
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, chunk_text string, chunk_len int")

    packed = TS.pack_sequences(chunks, budget_tokens=1024, n_buckets=8)
    pdf = packed.toPandas()
    assert len(pdf) == len(rows)  # bijection on chunks
    sums = pdf.groupby("pack_id")["chunk_len"].sum()
    toks = pdf.groupby("pack_id")["pack_tokens"].first()
    assert (sums == toks).all()
    non_overflow = pdf[~pdf["overflow"]]
    assert non_overflow.groupby("pack_id")["chunk_len"].sum().max() <= 1024
    ov = pdf[pdf["overflow"]]
    assert len(ov) == 1 and ov.iloc[0]["pack_tokens"] == 5000
    # overflow pack is a singleton — nothing else joined it
    assert (pdf["pack_id"] == ov.iloc[0]["pack_id"]).sum() == 1

    a = TS.pack_sequences(chunks.repartition(1), budget_tokens=1024,
                          n_buckets=8).toPandas()
    b = TS.pack_sequences(chunks.repartition(8), budget_tokens=1024,
                          n_buckets=8).toPandas()
    key = ["doc_id", "chunk_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a[["pack_id", "pack_tokens", "overflow"]].equals(
        b[["pack_id", "pack_tokens", "overflow"]])


def test_pack_sequences_rejects_bad_budget(spark):
    chunks = spark.createDataFrame(
        [(1, 0, "t", 5)],
        "doc_id long, chunk_idx int, chunk_text string, chunk_len int")
    with pytest.raises(ValueError, match="budget_tokens"):
        TS.pack_sequences(chunks, budget_tokens=0)


def test_weighted_sample_deterministic_and_proportional(spark):
    """weighted_sample keeps ~weight fraction per weight level, the
    decision is partitioning-invariant, weight 1 keeps everything,
    weight 0 nothing, and out-of-range weights clamp."""
    from pyspark.sql import functions as F

    rows = [(i, float((i % 4)) / 3.0) for i in range(4000)]  # w ∈ {0,⅓,⅔,1}
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    kept = TS.weighted_sample(df, F.col("w"))
    frac = {r.w: r.n / 1000 for r in
            kept.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert 0.0 not in frac                      # weight 0 → nothing kept
    assert frac[1.0] == 1.0                    # weight 1 → everything
    assert abs(frac[1 / 3] - 1 / 3) < 0.05 and abs(frac[2 / 3] - 2 / 3) < 0.05

    a = {r.doc_id for r in TS.weighted_sample(
        df.repartition(1), F.col("w")).collect()}
    b = {r.doc_id for r in TS.weighted_sample(
        df.repartition(16), F.col("w")).collect()}
    assert a == b                              # pure function of the row

    clamped = TS.weighted_sample(df, F.col("w") * 10 - 3)  # out of [0,1]
    assert clamped.filter("w = 1.0").count() == 1000  # clamps to 1, keeps all


def test_verify_stage_digests_partitioning_invariant(spark, tmp_path):
    """Cross-run manifest verification: the same rows committed at 1-way
    and 8-way partitioning produce IDENTICAL global digests (XOR folds over
    partitions), and a one-row difference is detected — without reading a
    single data row."""
    from pyspark.sql import functions as F

    from smart_pdf_md_spark.plans.manifests import (
        commit_stage,
        verify_stage_digests,
    )

    df = spark.range(500).select(
        F.concat(F.lit("f"), "id").alias("file_id"),
        (F.col("id") * 7).alias("val"))
    ra, rb, rc_ = (str(tmp_path / d) for d in ("a", "b", "c"))
    commit_stage(df.repartition(1), ra, "triples", ["file_id", "val"])
    commit_stage(df.repartition(8), rb, "triples", ["file_id", "val"])
    commit_stage(df.filter("id <> 250"), rc_, "triples", ["file_id", "val"])

    same = verify_stage_digests(spark, ra, rb, ["triples"])["triples"]
    assert same["match"] and same["rows_a"] == same["rows_b"] == 500
    assert same["digest_a"] == same["digest_b"]

    diff = verify_stage_digests(spark, ra, rc_, ["triples"])["triples"]
    assert not diff["match"] and diff["rows_b"] == 499
