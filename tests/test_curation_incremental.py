"""Append-only incremental curation: cross-batch dedup, first-seen-wins
keepers, exact-channel short docs, batch idempotence."""

from __future__ import annotations

import pytest

from smart_pdf_md_spark.plans.curation_incremental import curate_append


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def _good(tag: str, n: int = 60) -> str:
    """Quality-passing distinctive text."""
    return ("the story of it is on a hill and for the day it was good "
            + " ".join(f"{tag}{i}" for i in range(n)))


def test_incremental_curation_cross_batch_dedup(spark, tmp_path):
    run_dir = str(tmp_path / "inc")

    # batch 1: two distinct good docs + one junk doc + one EMPTY doc (the
    # r5 VERDICT #5 gate: quality exactly 0.3 must not sneak it into
    # cur_kept with zero chunks)
    b1 = _docs(spark, [(10, _good("a"), "en"),
                       (11, _good("b"), "en"),
                       (12, "?!:; ?!:;", "en"),
                       (13, "", "en")])
    s1 = curate_append(spark, b1, run_dir)
    assert s1["batch_in"] == 4 and s1["batch_new"] == 4
    assert s1["batch_passed"] == 2 and s1["batch_kept"] == 2
    assert s1["total_kept"] == 2 and s1["total_chunks"] >= 2

    # batch 2: a near-duplicate of doc 10 (SMALLER id — first-seen still
    # wins), an exact duplicate of doc 11, and one genuinely new doc
    near_dup_of_a = _good("a").replace(" a3 ", " zz3 ")  # one-token edit
    b2 = _docs(spark, [(5, near_dup_of_a, "en"),
                       (20, _good("b"), "en"),
                       (21, _good("c"), "en")])
    s2 = curate_append(spark, b2, run_dir)
    assert s2["batch_new"] == 3 and s2["batch_passed"] == 3
    assert s2["batch_kept"] == 1          # only doc 21 is new content
    assert s2["total_kept"] == 3

    from smart_pdf_md_spark.plans.manifests import read_stage
    kept = {r.doc_id for r in read_stage(spark, run_dir, "cur_kept").collect()}
    assert kept == {10, 11, 21}           # doc 5 did NOT displace doc 10

    # corpus telemetry: 4 distinct quality-passing contents ever seen
    # (docs 10, 11/20 share bytes, 5 is a DIFFERENT byte stream, 21) —
    # the committed HLL reads them back within linear-counting precision
    assert 3.9 <= s2["est_distinct_contents"] <= 4.2

    # batch 3: redelivery of batch 2 is a complete no-op
    s3 = curate_append(spark, b2, run_dir)
    assert s3["batch_new"] == 0 and s3["batch_kept"] == 0
    assert s3["total_kept"] == 3 and s3["total_chunks"] == s2["total_chunks"]
    assert s3["est_distinct_contents"] == s2["est_distinct_contents"]


@pytest.mark.slow
def test_incremental_bands_stage_committed_and_legacy_backfill(spark,
                                                               tmp_path):
    """r6 VERDICT next-round #5: each batch commits its slim
    (doc_id, band, band_hash) rows to cur_bands, and a run_dir whose
    history is in cur_filtered but has no cur_bands (what a crash between
    those two commits leaves) is backfilled on the next batch: near-dup
    detection against the old history still works, and the stage then
    covers history too."""
    import shutil

    from smart_pdf_md_spark.plans.manifests import read_stage, stage_committed

    run_dir = str(tmp_path / "inc")
    s1 = curate_append(spark, _docs(spark, [(10, _good("a"), "en"),
                                            (11, _good("b"), "en")]), run_dir)
    assert s1["batch_kept"] == 2
    assert stage_committed(run_dir, "cur_bands")
    bands1 = read_stage(spark, run_dir, "cur_bands")
    assert set(bands1.columns) == {"doc_id", "band", "band_hash"}
    assert {r.doc_id for r in bands1.select("doc_id").distinct().collect()} \
        == {10, 11}

    # history without bands: drop the stage entirely
    shutil.rmtree(str(tmp_path / "inc" / "cur_bands"))
    assert not stage_committed(run_dir, "cur_bands")

    # near-dup of doc 10 arrives — it must still be caught (via the
    # one-time backfill), and the recommitted stage covers history + batch
    near_dup = _good("a").replace(" a3 ", " zz3 ")
    s2 = curate_append(spark, _docs(spark, [(20, near_dup, "en"),
                                            (21, _good("c"), "en")]), run_dir)
    assert s2["batch_kept"] == 1          # 20 deduped against history
    kept = {r.doc_id for r in read_stage(spark, run_dir, "cur_kept").collect()}
    assert kept == {10, 11, 21}
    bands2 = read_stage(spark, run_dir, "cur_bands")
    assert {r.doc_id for r in bands2.select("doc_id").distinct().collect()} \
        == {10, 11, 20, 21}


@pytest.mark.slow
def test_incremental_curation_exact_channel_short_docs(spark, tmp_path):
    """Sub-3-token docs have no MinHash signature; byte-identical ones must
    still dedupe across batches through the content-hash channel."""
    run_dir = str(tmp_path / "inc")
    # two-token docs pass quality? punct term grants 0.3 when punct_ratio
    # is low and stopwords present — 'the end' scores >= 0.3
    s1 = curate_append(spark, _docs(spark, [(1, "the end", "en")]), run_dir)
    assert s1["batch_kept"] == 1
    s2 = curate_append(spark, _docs(spark, [(2, "the end", "en"),
                                            (3, "the start", "en")]), run_dir)
    assert s2["batch_kept"] == 1          # doc 2 exact-dups doc 1; 3 is new

    from smart_pdf_md_spark.plans.manifests import read_stage
    kept = {r.doc_id for r in read_stage(spark, run_dir, "cur_kept").collect()}
    assert kept == {1, 3}


@pytest.mark.slow
def test_incremental_crash_between_kept_and_chunks_heals(spark, tmp_path,
                                                         monkeypatch):
    """ADVICE r5 (high): a crash AFTER the cur_kept append but BEFORE the
    cur_chunks append must not lose the batch's chunks forever. The torn
    winners used to land in the blocking set on reprocess, so winners came
    back empty and cur_processed then sealed the batch chunk-less."""
    from smart_pdf_md_spark.plans import curation_incremental as ci
    from smart_pdf_md_spark.plans.manifests import read_stage

    run_dir = str(tmp_path / "inc")
    s1 = curate_append(spark, _docs(spark, [(10, _good("a"), "en")]), run_dir)
    assert s1["batch_kept"] == 1

    # batch 2: crash exactly at the chunk build (kept already appended)
    b2 = _docs(spark, [(20, _good("b"), "en")])
    real_chunks = ci.chunk_documents

    def boom(*a, **k):
        raise RuntimeError("simulated crash before chunks commit")

    monkeypatch.setattr(ci, "chunk_documents", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        curate_append(spark, b2, run_dir)
    monkeypatch.setattr(ci, "chunk_documents", real_chunks)

    # torn state: doc 20 is kept but has no chunks, batch not in roster
    kept = {r.doc_id for r in read_stage(spark, run_dir, "cur_kept").collect()}
    assert 20 in kept
    chunk_docs = {r.doc_id for r in
                  read_stage(spark, run_dir, "cur_chunks").collect()}
    assert 20 not in chunk_docs

    # reprocess heals: same winner recomputed, chunks appended, no dup kept
    s2 = curate_append(spark, b2, run_dir)
    assert s2["batch_new"] == 1 and s2["batch_kept"] == 1
    assert s2["total_kept"] == 2
    chunk_docs = {r.doc_id for r in
                  read_stage(spark, run_dir, "cur_chunks").collect()}
    assert 20 in chunk_docs
    kept_rows = read_stage(spark, run_dir, "cur_kept").count()
    assert kept_rows == 2                 # the torn append was not repeated

    # and a THIRD delivery is now a complete no-op
    s3 = curate_append(spark, b2, run_dir)
    assert s3["batch_new"] == 0 and s3["total_chunks"] == s2["total_chunks"]


@pytest.mark.slow
def test_torn_first_batch_stores_each_band_once(spark, tmp_path,
                                                monkeypatch):
    """A crash after the first batch's cur_filtered commit but before its
    cur_bands commit: the replay backfills cur_bands from cur_filtered,
    which already holds this batch's own docs. Each (doc_id, band) must
    still be stored once — a doubled row makes every later batch's
    hot-bucket sizing count the doc twice."""
    from smart_pdf_md_spark.plans import curation_incremental as ci
    from smart_pdf_md_spark.plans.manifests import read_stage, stage_committed

    run_dir = str(tmp_path / "inc")
    batch = _docs(spark, [(10, _good("a"), "en"), (11, _good("b"), "en")])
    real_commit = ci.commit_stage

    def torn(df, rd, stage, *a, **k):
        if stage == "cur_bands":
            raise RuntimeError("simulated crash before cur_bands commit")
        return real_commit(df, rd, stage, *a, **k)

    monkeypatch.setattr(ci, "commit_stage", torn)
    with pytest.raises(RuntimeError, match="simulated crash"):
        curate_append(spark, batch, run_dir)
    monkeypatch.setattr(ci, "commit_stage", real_commit)
    assert stage_committed(run_dir, "cur_filtered")
    assert not stage_committed(run_dir, "cur_bands")

    s = curate_append(spark, batch, run_dir)
    assert s["batch_kept"] == 2
    bands = read_stage(spark, run_dir, "cur_bands")
    n_rows = bands.count()
    assert n_rows > 0
    assert n_rows == bands.select("doc_id", "band").distinct().count()
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} \
        == {10, 11}


@pytest.mark.slow
def test_incremental_matches_batch_pipeline_on_fresh_corpus(spark, tmp_path):
    """One curate_append over a whole corpus keeps the same DOCUMENTS as
    run_curation (keeper IDs may differ only when a cluster's min id is not
    its first-seen — here ids arrive in order, so the sets coincide)."""
    from smart_pdf_md_spark.plans.curation import run_curation

    rows = [(i, _good(f"t{i}"), "en") for i in range(6)]
    rows.append((6, _good("t0"), "en"))       # exact dup of doc 0
    rows.append((7, "?!:;", "en"))            # junk
    docs = _docs(spark, rows)

    inc = curate_append(spark, docs, str(tmp_path / "inc"))
    full = run_curation(spark, docs, str(tmp_path / "batch"))

    from smart_pdf_md_spark.plans.manifests import read_stage
    inc_kept = {r.doc_id for r in
                read_stage(spark, str(tmp_path / "inc"), "cur_kept").collect()}
    batch_kept = {r.doc_id for r in full["kept"].select("doc_id").collect()}
    assert inc_kept == batch_kept
    assert inc["total_kept"] == full["summary"]["after_dedup"]


def test_history_bands_excludes_torn_committed_batch_rows(spark, tmp_path):
    """On a torn-run replay the batch's band rows may already sit in the
    committed cur_bands stage; unioning them with the freshly-computed
    batch bands double-counts those rows in hot-bucket sizing (ADVICE r7).
    _history_bands must exclude THIS batch's ids from the committed read."""
    from smart_pdf_md_spark.plans.curation_incremental import _history_bands
    from smart_pdf_md_spark.plans.manifests import commit_stage

    run_dir = str(tmp_path / "run")
    committed = spark.createDataFrame(
        [(1, 0, 11), (1, 1, 12),      # torn-committed rows of THIS batch
         (9, 0, 99), (8, 1, 88)],     # genuine history
        ["doc_id", "band", "band_hash"])
    commit_stage(committed, run_dir, "cur_bands", ["doc_id", "band"])

    batch_ids = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    got = sorted(map(tuple, _history_bands(spark, run_dir,
                                           batch_ids).collect()))
    assert got == [(8, 1, 88), (9, 0, 99)]


def test_incremental_line_dedup_across_batches(spark, tmp_path):
    """dedup_lines=True: a boilerplate line keeps its batch-1 first
    occurrence, is excised from later batch-1 docs AND from every later
    batch; a torn replay (cur_lines committed, roster not) does not
    self-block; accounting is exact."""
    from smart_pdf_md_spark.plans.manifests import commit_stage, read_stage

    boiler = "subscribe to the newsletter for updates every day it is said"
    good = ("the story of it is on a hill and for the day it was a good "
            "one in the end with more words to pass the quality gate")

    b1 = spark.createDataFrame(
        [(1, good + " alpha one\n" + boiler, "en"),
         (2, boiler + "\n" + good + " beta two", "en")],
        ["doc_id", "text", "lang"])
    run_dir = str(tmp_path / "inc")
    s1 = curate_append(spark, b1, run_dir, dedup_lines=True,
                       dup_ngram_max=None)
    assert s1["batch_lines_removed"] == 1
    f1 = {r.doc_id: r.text for r in read_stage(
        spark, run_dir, "cur_filtered").collect()}
    assert boiler in f1[1] and boiler not in f1[2]

    # batch 2: the line is HISTORY now — excised from a new doc
    b2 = spark.createDataFrame(
        [(3, good + " gamma three\n" + boiler, "en")],
        ["doc_id", "text", "lang"])
    s2 = curate_append(spark, b2, run_dir, dedup_lines=True,
                       dup_ngram_max=None)
    assert s2["batch_lines_removed"] == 1
    f2 = {r.doc_id: r.text for r in read_stage(
        spark, run_dir, "cur_filtered").collect()}
    assert boiler not in f2[3] and "gamma three" in f2[3]

    # torn replay of batch 3: commit its cur_lines rows, leave the roster
    # uncommitted → reprocessing must not drop its OWN first occurrences
    b3 = spark.createDataFrame(
        [(4, good + " delta four\nunique brand new line here", "en")],
        ["doc_id", "text", "lang"])
    torn = spark.createDataFrame(
        [(4, spark.createDataFrame(
            [("unique brand new line here",)], ["l"])
            .selectExpr("xxhash64(l)").collect()[0][0])],
        ["doc_id", "line_hash"])
    commit_stage(torn, run_dir, "cur_lines", ["doc_id", "line_hash"],
                 mode="append")
    s3 = curate_append(spark, b3, run_dir, dedup_lines=True,
                       dup_ngram_max=None)
    f3 = {r.doc_id: r.text for r in read_stage(
        spark, run_dir, "cur_filtered").collect()}
    assert "unique brand new line here" in f3[4]   # not self-blocked
    assert s3["batch_lines_removed"] == 0
    # and the state holds each (doc_id, line_hash) once
    lines = read_stage(spark, run_dir, "cur_lines")
    assert lines.count() == lines.distinct().count()


def test_curate_append_val_frac_split_is_cross_batch_consistent(
        spark, tmp_path):
    """val_frac in the append-only pipeline: every appended chunk carries
    the split column; the assignment is a pure id-hash function, so a doc
    appended in a LATER batch lands exactly where a fresh whole-corpus
    run would put it, and all chunks of a doc co-travel."""
    from pyspark.sql import functions as F

    from smart_pdf_md_spark.operators.textstats import train_val_split
    from smart_pdf_md_spark.plans.curation_incremental import curate_append
    from smart_pdf_md_spark.plans.manifests import read_stage

    def mk(lo, hi):
        rows = [(i, "the story of it is on a hill and for the day "
                 + " ".join(f"w{i}x{j}" for j in range(120)), "en")
                for i in range(lo, hi)]
        return spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    run_dir = str(tmp_path / "inc")
    s1 = curate_append(spark, mk(0, 12), run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01, val_frac=0.3)
    assert "batch_val_chunks" in s1
    curate_append(spark, mk(12, 24), run_dir, dup_ngram_max=None,
                  dedup_threshold=1.01, val_frac=0.3)

    chunks = read_stage(spark, run_dir, "cur_chunks")
    assert "split" in chunks.columns
    per_doc = chunks.groupBy("doc_id").agg(
        F.count_distinct("split").alias("n")).collect()
    assert all(r.n == 1 for r in per_doc)            # chunks co-travel
    got = {r.doc_id: r.split
           for r in chunks.select("doc_id", "split").distinct().collect()}
    # equals the batch-free assignment over the union
    want = {r.doc_id: r.split for r in train_val_split(
        mk(0, 24), val_frac=0.3).select("doc_id", "split").collect()}
    assert got == {k: want[k] for k in got}
    assert "val" in set(got.values()) and "train" in set(got.values())
