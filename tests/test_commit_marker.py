"""The `_COMMITTED` marker is the whole manifest: a commit is one Spark job,
and every metadata read (stage reads, digests, the run report) fires none."""

from __future__ import annotations

import json
import os

import pytest
from conftest import jobs_fired
from pyspark.sql import functions as F

from smart_pdf_md_spark.plans.manifests import (
    commit_stage,
    read_stage,
    run_report,
    stage_global_digest,
    verify_stage_digests,
)

KEYS = ["file_id", "val"]


def _frame(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.concat(F.lit("f"), "id").alias("file_id"),
        (F.col("id") * 7).alias("val"),
        F.array("id").alias("ids"))


def _recomputed(spark, run_dir: str, stage: str) -> tuple[int, int]:
    r = read_stage(spark, run_dir, stage).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.bit_xor(F.xxhash64(*KEYS)), F.lit(0)).alias("d"),
    ).first()
    return r["rows"], r["d"] & ((1 << 64) - 1)


def test_commit_is_one_job_and_metadata_reads_none(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.range(100).selectExpr("CAST(id AS STRING) AS file_id",
                                     "id * 3 AS val")
    assert jobs_fired(spark, lambda: commit_stage(df, ra, "triples", KEYS)) == 1
    assert jobs_fired(spark, lambda: commit_stage(df, ra, "triples", KEYS,
                                                  mode="append")) == 1
    commit_stage(df.repartition(4), rb, "triples", KEYS)

    assert jobs_fired(spark, lambda: read_stage(spark, ra, "triples")) == 0
    assert jobs_fired(spark,
                      lambda: stage_global_digest(spark, ra, "triples")) == 0
    assert jobs_fired(spark, lambda: verify_stage_digests(
        spark, ra, rb, ["triples"])) == 0
    assert jobs_fired(spark, lambda: run_report(spark, ra)) == 0


def test_marker_stats_match_recomputation(spark, tmp_path):
    """After an overwrite and after each of three appends (one empty), the
    marker's rows and digest equal a recomputation over read_stage, and
    read_stage's schema is the marker's."""
    run_dir = str(tmp_path / "run")
    commit_stage(_frame(spark, 0, 40).repartition(3), run_dir, "s", KEYS)
    assert stage_global_digest(spark, run_dir, "s") == \
        _recomputed(spark, run_dir, "s")
    for lo, hi in ((40, 90), (90, 90), (90, 95)):
        commit_stage(_frame(spark, lo, hi), run_dir, "s", KEYS, mode="append")
        assert stage_global_digest(spark, run_dir, "s") == \
            _recomputed(spark, run_dir, "s")
    assert stage_global_digest(spark, run_dir, "s")[0] == 95

    with open(os.path.join(run_dir, "s", "_COMMITTED")) as f:
        marker = json.load(f)
    assert len(marker["batches"]) == 4
    assert [marker["stats"][b]["rows"] for b in marker["batches"]] == \
        [40, 50, 0, 5]
    schema = read_stage(spark, run_dir, "s").schema
    assert json.loads(schema.json()) == marker["schema"]
    assert all(f.nullable for f in schema.fields)


def test_append_with_other_schema_is_refused_before_writing(spark, tmp_path):
    run_dir = str(tmp_path / "run")
    commit_stage(_frame(spark, 0, 10), run_dir, "s", KEYS)
    sdir = os.path.join(run_dir, "s")
    with open(os.path.join(sdir, "_COMMITTED")) as f:
        before = f.read()
    dirs = sorted(os.listdir(os.path.join(sdir, "data")))

    other_type = _frame(spark, 10, 20).withColumn("val", F.col("val").cast("int"))
    other_name = _frame(spark, 10, 20).withColumnRenamed("ids", "idz")
    for bad in (other_type, other_name, _frame(spark, 10, 20).drop("ids")):
        with pytest.raises(ValueError, match="does not match"):
            commit_stage(bad, run_dir, "s", KEYS, mode="append")
    with open(os.path.join(sdir, "_COMMITTED")) as f:
        assert f.read() == before
    assert sorted(os.listdir(os.path.join(sdir, "data"))) == dirs

    # nullability and column order are not part of the check: this batch
    # comes through createDataFrame (every field nullable), in another order
    loose = spark.createDataFrame([([10], 70, "f10")],
                                  "ids array<bigint>, val bigint, file_id string")
    commit_stage(loose, run_dir, "s", KEYS, mode="append")
    assert read_stage(spark, run_dir, "s").count() == 11
    assert stage_global_digest(spark, run_dir, "s") == \
        _recomputed(spark, run_dir, "s")
