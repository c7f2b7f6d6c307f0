"""Streaming incremental extraction: exactly-once over a growing directory."""

from __future__ import annotations

import os

import pytest

from smart_pdf_md_spark.corpus import corpus_pandas
from smart_pdf_md_spark.oracle import oracle_mentions
from smart_pdf_md_spark.plans.manifests import read_stage, stage_global_digest
from smart_pdf_md_spark.streaming.incremental import run_incremental


def test_incremental_stream_extracts_exactly_once(spark, tmp_path, corpus_pdf):
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(corpus_dir)

    half = len(corpus_pdf) // 2
    a, b = corpus_pdf.iloc[:half], corpus_pdf.iloc[half:]
    a.to_parquet(os.path.join(corpus_dir, "part-a.parquet"), index=False)

    run_incremental(spark, corpus_dir, out_dir, ckpt, once=True)
    got1 = read_stage(spark, out_dir, "mentions").filter("kind != '__file__'")
    golden_a = oracle_mentions(a)
    assert got1.count() == len(golden_a)
    # micro-batches commit through the SAME snapshot protocol as batch runs
    rows, _ = stage_global_digest(spark, out_dir, "mentions")
    assert rows == read_stage(spark, out_dir, "mentions").count()

    # new files land; restart processes ONLY them (checkpoint dedupe)
    b.to_parquet(os.path.join(corpus_dir, "part-b.parquet"), index=False)
    run_incremental(spark, corpus_dir, out_dir, ckpt, once=True)
    got2 = read_stage(spark, out_dir, "mentions").filter("kind != '__file__'")
    golden_all = oracle_mentions(corpus_pandas(len(corpus_pdf)))
    assert got2.count() == len(golden_all)  # no duplicates, nothing missed

    # third drain with nothing new: output unchanged
    run_incremental(spark, corpus_dir, out_dir, ckpt, once=True)
    n_all = read_stage(spark, out_dir, "mentions") \
        .filter("kind != '__file__'").count()
    assert n_all == len(golden_all)

    # a batch-mode run can resume ON TOP of the streamed commits: nothing
    # pending, stage served from the committed snapshot
    from smart_pdf_md_spark.plans.driver import extract_incremental
    corpus_sdf_all = spark.createDataFrame(corpus_pandas(len(corpus_pdf)))
    _, n_new = extract_incremental(spark, corpus_sdf_all, out_dir)
    assert n_new == 0


@pytest.mark.slow
def test_sketch_stream_heavy_hitters_and_cardinality(spark, tmp_path):
    """Streaming sketch maintenance: committed HLL/CMS/candidate stages
    over micro-batches of a skewed key stream — heavy hitters surface with
    one-sided estimates, the cardinality estimate tracks truth, re-drains
    with no new data change NOTHING (epoch-idempotent additive CMS), and
    new data merges in without replaying history."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from smart_pdf_md_spark.plans.manifests import read_stage
    from smart_pdf_md_spark.streaming.sketch_stream import (
        distinct_keys_estimate,
        heavy_hitters,
        run_sketch_stream,
    )

    src = str(tmp_path / "keys")
    ckpt = str(tmp_path / "ckpt")
    run_dir = str(tmp_path / "state")
    os.makedirs(src)

    # batch A: key 'hot' × 300 against a 200-key long tail
    a = pd.DataFrame({"key": ["hot"] * 300 +
                      [f"tail{i}" for i in range(200)]})
    a.to_parquet(os.path.join(src, "a.parquet"), index=False)

    schema = T.StructType([T.StructField("key", T.StringType())])
    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_sketch_stream(stream, run_dir, ckpt, ["key"], once=True)

    drain()
    hh = {r.key: r.est_count
          for r in heavy_hitters(spark, run_dir, ["key"],
                                 min_count=100).collect()}
    assert set(hh) == {"hot"} and hh["hot"] >= 300   # one-sided, no misses
    est1 = distinct_keys_estimate(spark, run_dir)
    assert abs(est1 - 201) / 201 < 0.05

    cms_total = read_stage(spark, run_dir, "stream_cms") \
        .agg(F.sum("cnt")).collect()[0][0]

    # re-drain with nothing new: additive state must not move
    drain()
    assert read_stage(spark, run_dir, "stream_cms") \
        .agg(F.sum("cnt")).collect()[0][0] == cms_total

    # batch B: a second hot key; only the new file is processed
    b = pd.DataFrame({"key": ["hot"] * 50 + ["warm"] * 150 +
                      [f"more{i}" for i in range(100)]})
    b.to_parquet(os.path.join(src, "b.parquet"), index=False)
    drain()
    hh2 = {r.key: r.est_count
           for r in heavy_hitters(spark, run_dir, ["key"],
                                  min_count=100).collect()}
    assert hh2["hot"] >= 350 and hh2["warm"] >= 150
    est2 = distinct_keys_estimate(spark, run_dir)
    assert abs(est2 - 302) / 302 < 0.05


def test_sketch_stream_fresh_checkpoint_same_run_dir_merges(spark, tmp_path):
    """Epoch ids restart at 0 under a FRESH checkpoint dir; the replay
    guard must not mistake the new stream's epoch 0 for the old stream's
    committed epoch 0 and silently skip merging real data (ADVICE r7 —
    run_ids are namespaced by checkpoint dir)."""
    import os

    import pandas as pd
    from pyspark.sql import types as T

    from smart_pdf_md_spark.streaming.sketch_stream import (
        heavy_hitters,
        run_sketch_stream,
    )

    run_dir = str(tmp_path / "state")
    schema = T.StructType([T.StructField("key", T.StringType())])

    def drain(src, ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        run_sketch_stream(stream, run_dir, ckpt, ["key"], once=True)

    src1 = str(tmp_path / "keys1"); os.makedirs(src1)
    pd.DataFrame({"key": ["alpha"] * 120}).to_parquet(
        os.path.join(src1, "a.parquet"), index=False)
    drain(src1, str(tmp_path / "ckpt1"))

    # second stream: same run_dir, fresh checkpoint → its epoch 0 MUST merge
    src2 = str(tmp_path / "keys2"); os.makedirs(src2)
    pd.DataFrame({"key": ["beta"] * 200}).to_parquet(
        os.path.join(src2, "b.parquet"), index=False)
    drain(src2, str(tmp_path / "ckpt2"))

    hh = {r.key: r.est_count
          for r in heavy_hitters(spark, run_dir, ["key"],
                                 min_count=100).collect()}
    assert hh.get("alpha", 0) >= 120 and hh.get("beta", 0) >= 200


def test_sketch_stream_mg_and_bottomk_stages(spark, tmp_path):
    """r9: the stream also maintains a Misra-Gries summary (bounded
    heavy-hitter state with the lower-bound guarantee) and a bottom-k/KMV
    uniform sample; re-drains with no new data change neither (epoch
    guard / KMV idempotence); a second batch merges in and the sample
    equals the batch-free recompute over the union."""
    import pandas as pd
    from pyspark.sql import types as T

    from smart_pdf_md_spark.operators.sketches import bottomk_sample
    from smart_pdf_md_spark.plans.manifests import read_stage
    from smart_pdf_md_spark.streaming.sketch_stream import run_sketch_stream

    src = str(tmp_path / "keys")
    ckpt = str(tmp_path / "ckpt")
    run_dir = str(tmp_path / "state")
    os.makedirs(src)
    a = pd.DataFrame({"key": ["hot"] * 300 +
                      [f"tail{i}" for i in range(200)]})
    a.to_parquet(os.path.join(src, "a.parquet"), index=False)
    schema = T.StructType([T.StructField("key", T.StringType())])

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_sketch_stream(stream, run_dir, ckpt, ["key"], mg_k=16,
                          bk_k=50, once=True)

    drain()
    mg = {r.key: r.est
          for r in read_stage(spark, run_dir, "stream_mg").collect()}
    assert len(mg) <= 16
    assert "hot" in mg and mg["hot"] <= 300          # lower bound
    assert 300 - mg["hot"] <= 500 / 17 + 1e-9        # N/(k+1)
    bk1 = sorted(tuple(r) for r in
                 read_stage(spark, run_dir, "stream_bk").collect())
    assert len(bk1) == 50

    drain()                                           # no new data
    mg2 = {r.key: r.est
           for r in read_stage(spark, run_dir, "stream_mg").collect()}
    bk2 = sorted(tuple(r) for r in
                 read_stage(spark, run_dir, "stream_bk").collect())
    assert mg2 == mg and bk2 == bk1                   # idempotent

    b = pd.DataFrame({"key": ["hot"] * 100 +
                      [f"late{i}" for i in range(150)]})
    b.to_parquet(os.path.join(src, "b.parquet"), index=False)
    drain()
    mg3 = {r.key: r.est
           for r in read_stage(spark, run_dir, "stream_mg").collect()}
    assert mg3["hot"] > mg["hot"]                     # second batch merged
    bk3 = sorted(tuple(r) for r in
                 read_stage(spark, run_dir, "stream_bk").collect())
    # KMV: the merged stream sample equals the batch-free recompute over
    # the union of distinct keys ever seen
    allkeys = spark.createDataFrame(
        pd.DataFrame({"key": ["hot"] + [f"tail{i}" for i in range(200)] +
                      [f"late{i}" for i in range(150)]}))
    want = sorted(tuple(r) for r in
                  bottomk_sample(allkeys, 50, key_cols=["key"]).collect())
    assert bk3 == want
