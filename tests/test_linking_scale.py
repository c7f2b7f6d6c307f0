"""Linking at a larger vocabulary (~15k names): the claim "quadratic work is
bounded by vocabulary and banding" has to survive beyond the toy corpus
vocab. Deterministic synthetic name groups; asserts merge quality and
bounded candidate counts."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from smart_pdf_md_spark.operators.cc import entity_table
from smart_pdf_md_spark.operators.linking import (
    candidate_pairs,
    checkpointed_vocabulary,
    link_edges,
)

SYLLABLES = ["run", "load", "parse", "scan", "merge", "sort", "hash", "join",
             "emit", "link", "pack", "send", "read", "write", "plan", "fix"]
N_BASES = 5000


def _base(i: int) -> str:
    h = int.from_bytes(hashlib.blake2b(f"b{i}".encode(), digest_size=8).digest(), "big")
    parts = [SYLLABLES[(h >> (k * 4)) % len(SYLLABLES)] for k in range(3)]
    return "_".join(parts) + f"_{i}"


def _variants(base: str) -> list[str]:
    toks = base.split("_")
    camel = toks[0] + "".join(t.capitalize() for t in toks[1:])
    pascal = "".join(t.capitalize() for t in toks)
    return [base, camel, pascal]


@pytest.fixture(scope="module")
def big_vocab_mentions(spark):
    rows = [(v, "def") for i in range(N_BASES) for v in _variants(_base(i))]
    return spark.createDataFrame(rows, ["name", "kind"])


@pytest.mark.slow
def test_large_vocab_linking_quality_and_bounds(spark, big_vocab_mentions):
    names = checkpointed_vocabulary(big_vocab_mentions, partitions=8)
    n_names = names.count()
    assert n_names == N_BASES * 3

    pairs = candidate_pairs(names).persist()
    n_pairs = pairs.count()
    # banding is tuned high-recall (the TF-IDF cosine rescore provides the
    # precision); the scale requirement is candidates ≪ n² — for 15k names
    # n² ≈ 112M, candidates must stay ~2 orders below
    assert n_pairs < n_names * 100, f"candidate blowup: {n_pairs}"
    assert n_pairs < (n_names * (n_names - 1) // 2) * 0.01

    edges = link_edges(big_vocab_mentions, names=names)
    ents = entity_table(big_vocab_mentions, edges, names=names)
    ents = ents.persist()

    # variants of the same base must share a canonical name
    with_base = ents.withColumn(
        "norm", F.lower(F.regexp_replace("name", "_", "")))
    groups = with_base.groupBy("norm").agg(
        F.countDistinct("canonical_name").alias("n_canon"),
        F.count("*").alias("n_members"))
    split_groups = groups.filter("n_members >= 3 AND n_canon > 1").count()
    total_groups = groups.filter("n_members >= 3").count()
    assert total_groups >= N_BASES * 0.95
    assert split_groups / total_groups < 0.02, \
        f"{split_groups}/{total_groups} groups split"

    # cross-base merges stay rare (distinct bases may share syllables; the
    # cosine threshold keeps them apart)
    merged = ents.groupBy("canonical_name").agg(
        F.countDistinct(F.lower(F.regexp_replace("name", "_", ""))).alias("n_bases"))
    bad = merged.filter("n_bases > 1").count()
    assert bad / N_BASES < 0.05, f"cross-base merges: {bad}"


@pytest.mark.slow
def test_local_and_distributed_paths_agree(spark, big_vocab_mentions):
    """The driver-local small-vocab fast path must be indistinguishable from
    the distributed path (the same kernel over Spark-grouped buckets) and
    the CC fixpoint — same edge set, same cosines (to 1e-9), same hot-bucket
    drops, identical components."""
    from smart_pdf_md_spark.operators.cc import connected_components

    names = checkpointed_vocabulary(big_vocab_mentions, partitions=8)
    m_local: dict = {}
    m_dist: dict = {}
    e_local = {(r.name_a, r.name_b): r.cos for r in link_edges(
        big_vocab_mentions, names=names, metrics=m_local).collect()}
    e_dist_df = link_edges(big_vocab_mentions, names=names, local_max_vocab=0,
                           metrics=m_dist)
    e_dist = {(r.name_a, r.name_b): r.cos for r in e_dist_df.collect()}
    assert set(e_local) == set(e_dist)
    assert max(abs(e_local[k] - e_dist[k]) for k in e_local) < 1e-9
    assert len(e_local) == 16_062
    assert m_local == m_dist == {"dropped_buckets": 356,
                                 "dropped_band_rows": 53_514}

    cc_local = {(r.name, r.component)
                for r in connected_components(e_dist_df).collect()}
    cc_dist = {(r.name, r.component)
               for r in connected_components(e_dist_df, local_max_edges=0).collect()}
    assert cc_local == cc_dist  # exact: labels are strings, no float path
