"""run_kg's vocabulary-sized stages (edges, entities, triples_canonical) on
the driver: per-stage Spark job ceilings, and row parity with the
distributed operators they stand in for."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest
from conftest import group_jobs, jobs_fired, set_job_group

from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
from smart_pdf_md_spark.operators.extract import mentions_only
from smart_pdf_md_spark.operators.linking import link_edges
from smart_pdf_md_spark.plans.driver import extract_incremental, run_kg
from smart_pdf_md_spark.plans.manifests import read_stage

STAGES = ["mentions", "triples", "edges", "entities", "triples_canonical"]
# jobs a warm from-scratch run_kg may fire per stage with a driver-held
# vocabulary: extraction + commit in one; the triples dedup's shuffle and
# write; the vocabulary distinct's shuffle, its collect and the edges
# write; the entities write; the two rewrite broadcasts, the distinct's
# shuffle and the write
CEILINGS = {"mentions": 1, "triples": 2, "edges": 3, "entities": 1,
            "triples_canonical": 4}


@pytest.fixture(scope="module")
def committed(spark, corpus_sdf, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("kg") / "run")
    run_kg(spark, corpus_sdf, run_dir)
    return run_dir


def _rows(df) -> tuple[list[str], list[str], list[tuple]]:
    return df.columns, [t for _, t in df.dtypes], sorted(
        tuple(r) for r in df.collect())


def test_warm_run_kg_stage_job_ceilings(spark, corpus_sdf, committed,
                                        tmp_path):
    """Counted per stage through on_stage: each callback closes the
    finished stage's job group and opens the next one's."""
    tag = uuid.uuid4().hex
    groups = {s: f"{tag}-{s}" for s in STAGES}

    def on_stage(stage, resumed, metrics=None):
        nxt = STAGES.index(stage) + 1
        set_job_group(spark, groups[STAGES[nxt]] if nxt < len(STAGES) else None)

    set_job_group(spark, groups["mentions"])
    try:
        run_kg(spark, corpus_sdf, str(tmp_path / "run"), on_stage=on_stage)
    finally:
        set_job_group(spark, None)
    got = {s: group_jobs(spark, groups[s]) for s in STAGES}
    assert all(got[s] <= CEILINGS[s] for s in STAGES), got


def test_incremental_append_job_ceiling(spark, corpus_sdf, tmp_path):
    """An append evaluates the pending anti-join and the extraction once,
    for the cached batch's count, and commits from the cache: 5 jobs,
    where re-running the anti-join for the commit took 7."""
    run_dir = str(tmp_path / "run")
    extract_incremental(spark, corpus_sdf.filter("path like 'src/%'"), run_dir)
    n = []
    assert jobs_fired(spark, lambda: n.append(
        extract_incremental(spark, corpus_sdf, run_dir)[1])) <= 5
    assert n[0] == corpus_sdf.filter("path not like 'src/%'").count()


def test_driver_tail_matches_distributed_operators(spark, committed):
    """The committed edges, entities and triples_canonical equal, rows,
    columns and column order included, the distributed composition
    link_edges(local_max_vocab=0) → entity_table → canonical_triples over
    the same committed mentions and triples. Edge cosines are summed in
    another order by the distributed rescore, so they agree to 1e-9 (as in
    test_linking_scale); everything else, conf included, is exact."""
    mentions = mentions_only(read_stage(spark, committed, "mentions"))
    triples = read_stage(spark, committed, "triples")
    edges = link_edges(mentions, local_max_vocab=0).persist()
    ents = entity_table(mentions, edges).persist()
    want = {"edges": edges, "entities": ents,
            "triples_canonical": canonical_triples(triples, ents, edges)}
    try:
        for stage, ref in want.items():
            cols, types, rows = _rows(read_stage(spark, committed, stage))
            ref_cols, ref_types, ref_rows = _rows(ref)
            assert rows and (cols, types) == (ref_cols, ref_types), stage
            if stage == "edges":
                assert [r[:2] for r in rows] == [r[:2] for r in ref_rows]
                assert max(abs(a[2] - b[2])
                           for a, b in zip(rows, ref_rows)) < 1e-9
            else:
                assert rows == ref_rows, stage
    finally:
        edges.unpersist()
        ents.unpersist()


CALLER_VARIANTS = '''import os


def load_data(path):
    return parse(path)


def loadData(path):
    return parse(path)


def parse(text):
    return os.path.basename(text)
'''


def test_caller_variants_collapse_to_one_calls_row(spark, tmp_path):
    """Two caller variants in one file that call the same callee become one
    (canonical caller, CALLS, parse) row, on run_kg's driver path and
    through canonical_triples; IMPORTS rows and rows whose subject stays
    keep one row each."""
    files = spark.createDataFrame(
        [("acme/etl", "etl/io.py", "c0ffee", "python", CALLER_VARIANTS)],
        "repo string, path string, commit string, lang string, content string")
    res = run_kg(spark, files, str(tmp_path / "run"))
    mentions, triples = res["mentions"], res["triples"]
    edges = link_edges(mentions, local_max_vocab=0)
    by_operators = canonical_triples(triples, entity_table(mentions, edges),
                                     edges)
    want = Counter((r.subj, r.pred, r.obj) for r in triples.collect()
                   if r.subj not in ("load_data", "loadData"))
    want["loadData", "CALLS", "parse"] = 1   # 'loadData' < 'load_data'
    assert want["acme/etl/etl/io.py", "IMPORTS", "os"] == 1
    for canon in (res["triples_canonical"], by_operators):
        rows = canon.collect()
        assert {r.file_id for r in rows} == {triples.first().file_id}
        assert Counter((r.subj, r.pred, r.obj_raw) for r in rows) == want
