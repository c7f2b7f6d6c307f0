"""Staged curation pipeline: accounting, resume, and sample stability."""

from __future__ import annotations

import pytest
from conftest import jobs_fired
from pyspark.sql import functions as F

from smart_pdf_md_spark.plans.curation import run_curation


@pytest.fixture()
def curation_docs(spark):
    import random
    rng = random.Random(23)
    vocab = [f"word{j}" for j in range(800)]
    rows = []
    for i in range(40):
        # distinct token sets + enough stopwords/length to clear quality
        body = " ".join(rng.sample(vocab, 60))
        rows.append((i, f"the story of it is on a hill and {body} "
                        "for the day it was a good one in the end", "en"))
    for i in range(40, 44):
        rows.append((i, rows[0][1], "en"))         # exact dups of doc 0
    rows.append((44, "?!:; ?!:;", "en"))           # pure punct → filtered
    rows.append((45, "spam\nspam\nspam\nspam", "en"))  # dup LINES → filtered
    rows.append((46, "es war einmal und " + " ".join(
        f"der schnelle braune fuchs nummer{i} springt hoch" for i in range(12))
        + " und so weiter bis zum ende der geschichte", "de"))
    rows.append((47, "the story of it is on a hill and contact me at "
                     "me@example.com for the day it was a good one in the "
                     "end", "en"))  # PII, non-repetitive → survives filter
    # dropped by the duplicate-N-GRAM ratio ALONE (r4 VERDICT #6): one
    # single line (dup_line_ratio = 0), stopword-rich (clears quality), but
    # a 4-token phrase repeated 40× → dup_ngram_ratio ≈ 0.97 > 0.8 default
    rows.append((48, "we repeat the phrase " * 40, "en"))
    # dropped ONLY by decontamination (clears every other filter): carries
    # BENCH_SENTENCE verbatim — the eval-leak fixture
    rows.append((49, "the story of it was that " + BENCH_SENTENCE +
                     " and so the day ended well for all of them", "en"))
    # token-less docs (r5 VERDICT what's-wrong #5): quality = exactly 0.3
    # (punct term alone) would clear the 0.3 default — the n_tokens >= 1
    # gate must drop both, and they must never reach the kept set. (A doc
    # of spaces + a NEWLINE is out of the gate's scope: trim() strips only
    # spaces on both engines, so '\n' yields phantom empty tokens — the
    # oracle-pinned tokenization treats it as a 2-token doc.)
    rows.append((50, "", "en"))
    rows.append((51, "     ", "en"))
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


# 13 distinctive tokens a benchmark shares with doc 49 (and nothing else)
BENCH_SENTENCE = ("qq ww ee rr tt yy uu ii oo pp aa ss dd")


def test_curation_accounting_and_stages(spark, curation_docs, tmp_path):
    bench = spark.createDataFrame(
        [(1, f"question intro {BENCH_SENTENCE} choose one answer")],
        ["bench_id", "text"])
    res = run_curation(spark, curation_docs, str(tmp_path / "cur"),
                       quality_min=0.3, dup_line_max=0.5,
                       dedup_threshold=0.9, benchmarks=bench)
    s = res["summary"]
    assert s["docs_in"] == 52
    # low-quality (44) + dup-line (45) + dup-ngram-alone (48) + the two
    # token-less docs (50, 51) dropped; everything else survives the filter
    assert s["after_filter"] == 47
    # decontamination drops exactly the planted eval-leak doc (49)
    assert s["after_decontam"] == 46
    # the 4 planted exact dups collapse into doc 0's cluster
    assert s["after_dedup"] == 42
    kept_ids = {r.doc_id for r in res["kept"].select("doc_id").collect()}
    assert 0 in kept_ids and not ({40, 41, 42, 43} & kept_ids)
    assert {44, 45, 48, 49, 50, 51}.isdisjoint(kept_ids)
    assert 49 in {r.doc_id
                  for r in res["filtered"].select("doc_id").collect()}
    # (the dup_ngram_max=None counter-proof that 48's drop is the n-gram
    # ratio ALONE lives in test_curation_knob_change_rebuilds_stale_stages)
    # scrubbing happened before scoring: no raw email survives anywhere
    assert res["kept"].filter(F.col("text").contains("me@example.com")) \
        .count() == 0
    assert res["kept"].filter(F.col("text").contains("<EMAIL>")).count() > 0
    # chunks cover every kept doc, chunk accounting exact
    assert res["chunks"].select("doc_id").distinct().count() == s["after_dedup"]
    assert s["chunks"] == res["chunks"].count()


@pytest.mark.slow
def test_curation_resumes_all_stages(spark, curation_docs, tmp_path):
    run_dir = str(tmp_path / "cur")
    first = run_curation(spark, curation_docs, run_dir)
    assert not any(first["resumed"].values())
    second = run_curation(spark, curation_docs, run_dir)
    assert all(second["resumed"].values())
    assert first["summary"] == second["summary"]


def test_resumed_curation_summary_reads_the_markers(spark, curation_docs,
                                                   tmp_path):
    """A fully resumed default run fires only the input's docs.count():
    every stage count in the summary is the committed row count in that
    stage's marker."""
    run_dir = str(tmp_path / "cur")
    first = run_curation(spark, curation_docs, run_dir)
    second = []
    jobs = jobs_fired(spark, lambda: second.append(
        run_curation(spark, curation_docs, run_dir)))
    assert all(second[0]["resumed"].values())
    assert second[0]["summary"] == first["summary"]
    assert jobs == jobs_fired(spark, curation_docs.count)


@pytest.mark.slow
def test_curation_knob_change_rebuilds_stale_stages(spark, curation_docs,
                                                    tmp_path):
    """ADVICE r4: rerunning on a committed run_dir with DIFFERENT knobs must
    rebuild the stages those knobs feed — the r4 resume compared only
    upstream run_ids, silently serving filtered/kept/chunks built under the
    old thresholds. Knob-independent upstream stages still resume."""
    run_dir = str(tmp_path / "cur")
    first = run_curation(spark, curation_docs, run_dir)

    # a filter-stage knob changes → scrubbed resumes, the rest rebuild
    second = run_curation(spark, curation_docs, run_dir, dup_ngram_max=None)
    assert second["resumed"]["scrubbed"]
    assert not second["resumed"]["filtered"]
    assert not second["resumed"]["kept"]      # dep run_id chain propagates
    assert not second["resumed"]["chunks"]
    assert second["summary"]["after_filter"] == \
        first["summary"]["after_filter"] + 1  # doc 48 readmitted

    # a chunk-stage knob changes → everything upstream resumes
    third = run_curation(spark, curation_docs, run_dir, dup_ngram_max=None,
                         chunk_tokens=50, overlap=10)
    assert third["resumed"]["scrubbed"] and third["resumed"]["filtered"] \
        and third["resumed"]["kept"]
    assert not third["resumed"]["chunks"]
    assert third["summary"]["chunks"] > second["summary"]["chunks"]


@pytest.mark.slow
def test_curation_per_domain_cap(spark, tmp_path):
    """max_per_source applies the Gopher-style per-domain limit inside the
    filter stage: a 12-doc mega-domain is cut to its best 5 by quality,
    the small domain survives whole, and the knob participates in the
    params digest (it reaches the committed stage)."""
    import random
    rng = random.Random(31)
    vocab = [f"word{j}" for j in range(500)]
    rows = []
    for i in range(12):
        body = ("the story of it is on a hill and for a day it was good "
                + " ".join(rng.sample(vocab, 40)))
        rows.append((i, body, "en", "mega.example"))
    for i in (100, 101):
        body = ("the story of it is on a hill and for a day it was good "
                + " ".join(rng.sample(vocab, 40)))
        rows.append((i, body, "en", "small.example"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])

    res = run_curation(spark, docs, str(tmp_path / "cur"), max_per_source=5)
    s = res["summary"]
    assert s["docs_in"] == 14 and s["after_filter"] == 7
    srcs = {r.source for r in res["filtered"].collect()}
    assert srcs == {"mega.example", "small.example"}
    assert res["filtered"].filter("source = 'mega.example'").count() == 5
    # distinct vocab draws → no near-dups: all 7 survive dedup and chunk
    assert s["after_dedup"] == 7


@pytest.mark.slow
def test_curation_benchmark_change_rebuilds_clean_stage(spark, curation_docs,
                                                        tmp_path):
    """ADVICE r5 (medium): the clean stage's staleness key must fingerprint
    the benchmark CONTENT — rerunning the same run_dir with a different
    benchmark set used to resume the stale stage and let the new set's
    contaminated docs through."""
    run_dir = str(tmp_path / "cur")
    bench_a = spark.createDataFrame(
        [(1, f"question intro {BENCH_SENTENCE} choose one answer")],
        ["bench_id", "text"])
    first = run_curation(spark, curation_docs, run_dir, benchmarks=bench_a)
    assert first["summary"]["after_decontam"] == \
        first["summary"]["after_filter"] - 1        # doc 49 flagged

    # same knobs, DIFFERENT benchmark content (matches nothing) → clean
    # rebuilds and doc 49 is readmitted; downstream stages rebuild too
    bench_b = spark.createDataFrame(
        [(1, " ".join(f"zz{i}" for i in range(15)))], ["bench_id", "text"])
    second = run_curation(spark, curation_docs, run_dir, benchmarks=bench_b)
    assert second["resumed"]["scrubbed"] and second["resumed"]["filtered"]
    assert not second["resumed"]["clean"]
    assert second["summary"]["after_decontam"] == \
        second["summary"]["after_filter"]

    # identical benchmark content on a third run → everything resumes
    third = run_curation(spark, curation_docs, run_dir, benchmarks=bench_b)
    assert all(third["resumed"].values())


@pytest.mark.slow
def test_curation_stratified_mix_is_deterministic(spark, curation_docs,
                                                  tmp_path):
    kw = dict(fractions={"en": 1.0})  # drop non-en strata entirely
    a = run_curation(spark, curation_docs, str(tmp_path / "a"), **kw)
    b = run_curation(spark, curation_docs, str(tmp_path / "b"), **kw)
    assert a["kept"].filter("lang = 'de'").count() == 0
    ids = lambda r: sorted(x.doc_id for x in r["kept"].collect())  # noqa: E731
    assert ids(a) == ids(b)


def test_curation_scrub_and_scoring_stages_are_shuffle_free(spark,
                                                            curation_docs):
    """The scrub stage AND the score/filter stage are each ONE scan-side
    select — no Exchange anywhere from raw docs through scrub through the
    filtered projection (r5 VERDICT what's-wrong #2: the scrub used to be
    a doc_id self-join that shuffled the full document stream twice; a
    per-family score join formulation would shuffle it three more times)."""
    import io
    from contextlib import redirect_stdout

    from smart_pdf_md_spark.operators.textstats import (
        quality_cols, repetition_cols, scrub_cols, token_count_cols)

    # the exact expression shapes run_curation's scrubbed+filtered builders
    # use, chained lazily from the raw docs
    sc = scrub_cols(F.col("text"))
    scrubbed = curation_docs.select(
        "doc_id", "lang", sc["text_scrubbed"].alias("text"),
        sc["was_redacted"].alias("was_redacted"))
    text = F.col("text")
    plan_df = scrubbed.select(
        "*", quality_cols(text)["quality"].alias("quality"),
        *[v.alias(k) for k, v in repetition_cols(text).items()],
        token_count_cols(text)["n_tokens"].alias("n_tokens"),
    ).filter("quality >= 0.3 and dup_line_ratio <= 0.5 and n_tokens >= 1")
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "Exchange" not in buf.getvalue()
    assert "Join" not in buf.getvalue()


def test_curation_scoring_composes_with_structured_streaming(spark, tmp_path):
    """The scrub + score stages are stateless Column exprs, so the same
    code must run unchanged on a readStream — this pins that no
    non-streamable construct (window-over-all, global sort, collect)
    sneaks into the scoring path."""
    import os

    import pandas as pd

    from smart_pdf_md_spark.operators.textstats import (
        SCRUB_PATTERNS, quality_cols, repetition_cols)

    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["a fine day on the hill with me@example.com present",
                 "spam\nspam\nspam"],
        "lang": ["en", "en"],
    }).to_parquet(os.path.join(src, "p.parquet"), index=False)

    stream = spark.readStream.schema(
        "doc_id long, text string, lang string").parquet(src)
    col = F.col("text")
    for rx, token in SCRUB_PATTERNS:
        col = F.regexp_replace(col, rx, token)
    scored = stream.select(
        "doc_id", col.alias("text"),
        quality_cols(col)["quality"].alias("quality"),
        repetition_cols(col)["dup_line_ratio"].alias("dup_line_ratio"))
    q = (scored.writeStream.format("memory").queryName("cur_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = {r.doc_id: r for r in spark.sql("select * from cur_stream").collect()}
    assert "<EMAIL>" in rows[1].text and "me@example.com" not in rows[1].text
    assert rows[2].dup_line_ratio == round(1 - 1 / 3 + 1e-9, 4)
    assert 0.0 <= rows[1].quality <= 1.0


@pytest.mark.slow
def test_curation_stages_queryable_via_sql_facade(spark, curation_docs,
                                                  tmp_path):
    """register_kg_views works on ANY stage dict — the curation result
    included: the whole curated corpus is queryable through spark.sql."""
    from smart_pdf_md_spark.plans.pipeline import register_kg_views

    res = run_curation(spark, curation_docs, str(tmp_path / "cur"))
    names = register_kg_views(spark, res, prefix="cur_")
    assert {"cur_kept", "cur_chunks", "cur_filtered"} <= set(names)
    n = spark.sql("select count(*) as n from cur_chunks").collect()[0].n
    assert n == res["summary"]["chunks"]


@pytest.mark.slow
def test_curation_cap_toggle_rebuilds_scrubbed(spark, tmp_path):
    """ADVICE r6 (medium): the scrubbed stage's OUTPUT SCHEMA depends on
    max_per_source/domain_col (the domain column rides along only when
    capping is on), so toggling the cap on a committed run_dir must
    REBUILD scrubbed — resuming the no-cap snapshot used to crash
    cap_per_group with a missing-column AnalysisException, and the reverse
    direction silently served the stale schema into kept/chunks."""
    import random
    rng = random.Random(37)
    vocab = [f"word{j}" for j in range(500)]
    rows = []
    for i in range(10):
        body = ("the story of it is on a hill and for a day it was good "
                + " ".join(rng.sample(vocab, 40)))
        rows.append((i, body, "en", "mega.example"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    run_dir = str(tmp_path / "cur")

    first = run_curation(spark, docs, run_dir)           # no cap
    assert first["summary"]["after_filter"] == 10

    # no-cap → cap: scrubbed rebuilds (schema gains `source`), cap applies
    second = run_curation(spark, docs, run_dir, max_per_source=4)
    assert not second["resumed"]["scrubbed"]
    assert second["summary"]["after_filter"] == 4
    assert "source" in second["filtered"].columns

    # same cap again: everything resumes (value change alone does not
    # invalidate scrubbed — only the schema-relevant extra column does)
    third = run_curation(spark, docs, run_dir, max_per_source=4)
    assert third["resumed"]["scrubbed"] and third["resumed"]["filtered"]

    # cap value changes: scrubbed (schema unchanged) resumes, filtered
    # rebuilds under the new cap
    fourth = run_curation(spark, docs, run_dir, max_per_source=2)
    assert fourth["resumed"]["scrubbed"]
    assert not fourth["resumed"]["filtered"]
    assert fourth["summary"]["after_filter"] == 2

    # cap → no-cap: scrubbed rebuilds back to the slim schema
    fifth = run_curation(spark, docs, run_dir)
    assert not fifth["resumed"]["scrubbed"]
    assert fifth["summary"]["after_filter"] == 10
    assert "source" not in fifth["filtered"].columns


@pytest.mark.slow
def test_curation_compression_knob_drops_boilerplate_and_rebuilds(
        spark, tmp_path):
    """max_compression_ratio: the zlib entropy proxy rides the filter
    stage's single scan projection; a doc too repetitive for the
    compressor (but under the disabled dup_ngram gate here) drops; turning
    the knob on a COMMITTED run_dir rebuilds the filtered stage (params
    digest), never serves the stale keep-set."""
    from smart_pdf_md_spark.plans.curation import run_curation

    boiler = "the story of it is on a hill for the day " * 60
    rows = [(1, "the story of it is on a hill and for the day it was "
                "good one " + " ".join(f"w{i}" for i in range(40)), "en"),
            (2, boiler, "en")]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    run_dir = str(tmp_path / "cur")
    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dup_line_max=1.0)
    assert res["summary"]["after_filter"] == 2   # knob off: both pass

    res2 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dup_line_max=1.0, max_compression_ratio=5.0)
    assert res2["resumed"]["filtered"] is False  # knob change → rebuild
    assert res2["summary"]["after_filter"] == 1
    kept_ids = {r.doc_id for r in res2["kept"].select("doc_id").collect()}
    assert kept_ids == {1}
    # the committed filtered stage carries the audit column
    assert "compression_ratio" in res2["filtered"].columns


@pytest.mark.slow
def test_curation_ppl_bucket_stage(spark, tmp_path):
    """ppl_keep: the CCNet bucket stage drops tail-perplexity docs (rare
    vocabulary under the corpus' own unigram LM), commits audit columns,
    reports after_lm, and resumes cleanly with unchanged params."""
    from smart_pdf_md_spark.plans.curation import run_curation

    common = "the story of it is on a hill and for the day it was good"
    rows = [(i, common + f" extra{i % 2}", "en") for i in range(8)]
    # rare-vocab doc: every token unique to it except minimal stopwords
    rows.append((99, "the " + " ".join(f"zq{i}x" for i in range(30)), "en"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    run_dir = str(tmp_path / "cur")
    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01,  # isolate the lm stage
                       ppl_keep=("head", "middle"))
    assert res["summary"]["after_lm"] < res["summary"]["after_filter"]
    lm_ids = {r.doc_id for r in res["lm"].select("doc_id").collect()}
    assert 99 not in lm_ids                     # the tail doc dropped
    assert {"avg_logprob", "ppl_rank", "ppl_bucket"} <= set(
        res["lm"].columns)
    kept_ids = {r.doc_id for r in res["kept"].select("doc_id").collect()}
    assert 99 not in kept_ids

    res2 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01, ppl_keep=("head", "middle"))
    assert res2["resumed"]["lm"] is True        # same params → resume


def _mix_docs(spark, n_common=10, n_rare=4):
    """Docs that all clear the quality filter: a 'common' population plus
    a distinctive 'rare' population for target/selection stages."""
    common = ("the story of it is on a hill and for the day it was a "
              "good one in the end with more words to pass")
    rows = [(i, common + f" variant{i} " +
             " ".join(f"filler{i}w{j}" for j in range(10)), "en")
            for i in range(n_common)]
    rows += [(100 + i, "the tale was that " +
              " ".join(f"special{i}tok{j} marker{j}" for j in range(12)) +
              " and it was a fine one for the day in all", "en")
             for i in range(n_rare)]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_curation_dsir_stage_accounting_resume_and_rebuild(spark, tmp_path):
    """dsir_target+dsir_keep: the committed DSIR stage keeps exactly
    dsir_keep docs biased toward the target, carries audit columns,
    resumes with unchanged params, and rebuilds when the TARGET CONTENT
    changes (same path, different rows — the bench_fp discipline)."""
    docs = _mix_docs(spark)
    # target looks like the 'rare' population
    target = spark.createDataFrame(
        [(1, "special0tok0 marker0 special1tok1 marker1 special2tok2 "
             "marker2 special3tok3 marker3")], ["doc_id", "text"])
    run_dir = str(tmp_path / "cur")
    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01,
                       dsir_target=target, dsir_keep=6)
    assert res["summary"]["after_dsir"] == 6
    assert res["summary"]["after_filter"] >= 13
    dsir_ids = {r.doc_id for r in res["dsir"].select("doc_id").collect()}
    # all four target-like docs selected (their log_ratio dominates)
    assert {100, 101, 102, 103} <= dsir_ids
    assert {"log_ratio", "_gumbel_key"} <= set(res["dsir"].columns)
    # dedup and chunks run DOWNSTREAM of the selection
    assert res["summary"]["after_dedup"] <= 6
    assert res["chunks"].select("doc_id").distinct().count() \
        == res["summary"]["after_dedup"]

    res2 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01,
                        dsir_target=target, dsir_keep=6)
    assert res2["resumed"]["dsir"] is True
    assert res2["summary"] == res["summary"]

    other_target = spark.createDataFrame(
        [(1, "filler0w0 filler0w1 filler1w0 filler1w1 variant0 variant1")],
        ["doc_id", "text"])
    res3 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01,
                        dsir_target=other_target, dsir_keep=6)
    assert res3["resumed"]["dsir"] is False     # content fp changed
    ids3 = {r.doc_id for r in res3["dsir"].select("doc_id").collect()}
    assert ids3 != dsir_ids                     # selection followed target

    with pytest.raises(ValueError, match="supplied together"):
        run_curation(spark, docs, run_dir, dsir_keep=6)


@pytest.mark.slow
def test_curation_semdedup_stage(spark, tmp_path):
    """semdedup_eps+embeddings: near-identical-direction embeddings
    collapse after lexical dedup; docs WITHOUT an embedding pass through;
    an eps change rebuilds the stage."""
    docs = _mix_docs(spark, n_common=6, n_rare=2)
    # doc 0/1/2 share a direction (near-dups in embedding space), 3/4/5
    # distinct; rare docs 100/101 have NO embedding row
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.001, 0.0, 0.0]),
         (2, [1.0, 0.002, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0]),
         (4, [0.0, 0.0, 1.0, 0.0]), (5, [0.0, 0.0, 0.0, 1.0])],
        ["doc_id", "embedding"])
    run_dir = str(tmp_path / "cur")
    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01,
                       embeddings=emb, semdedup_eps=0.05, semdedup_lists=2)
    ids = {r.doc_id for r in res["semdedup"].select("doc_id").collect()}
    assert {100, 101} <= ids                    # no embedding → kept
    assert {3, 4, 5} <= ids                     # distinct directions kept
    assert len({0, 1, 2} & ids) == 1            # the near-dup trio collapses
    assert res["summary"]["after_semdedup"] == len(ids)
    assert res["summary"]["after_semdedup"] < res["summary"]["after_dedup"]

    res2 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01,
                        embeddings=emb, semdedup_eps=0.05,
                        semdedup_lists=2)
    assert res2["resumed"]["semdedup"] is True

    # r8 VERDICT next-round #5: identical doc_ids, CHANGED vectors — the
    # params digest covers embedding CONTENT, so the stage must rebuild,
    # not wrongly resume from the stale keeper set
    emb_moved = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.001, 0.0]),
         (2, [1.0, 0.002, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0]),
         (4, [0.0, 0.0, 1.0, 0.0]), (5, [0.0, 0.0, 0.0, 1.0])],
        ["doc_id", "embedding"])
    res_m = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                         dedup_threshold=1.01,
                         embeddings=emb_moved, semdedup_eps=0.05,
                         semdedup_lists=2)
    assert res_m["resumed"]["semdedup"] is False

    res3 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01,
                        embeddings=emb, semdedup_eps=0.9,
                        semdedup_lists=2)
    assert res3["resumed"]["semdedup"] is False  # knob change → rebuild

    with pytest.raises(ValueError, match="embeddings"):
        run_curation(spark, docs, run_dir, semdedup_eps=0.05)


@pytest.mark.slow
def test_curation_span_stage_drop_and_remove(spark, tmp_path):
    """max_dup_span_fraction drops heavily-span-covered docs;
    remove_dup_spans instead excises the b-side intervals with exact
    char accounting in the summary; the mode flip rebuilds the stage."""
    block = " ".join(f"license{i} term{i} clause{i}" for i in range(20))
    filler_a = ("the story of it is on a hill and for the day it was a "
                "good one in the end entirely original alpha " +
                " ".join(f"original{j} prose{j} alone{j}" for j in range(40)))
    rows = [
        (1, filler_a + " " + block, "en"),            # a-side keeps block
        (2, block + " tiny extra suffix here", "en"), # b-side ~all dup
        (3, "the tale was that " + " ".join(
            f"unique{j} word{j}" for j in range(15)) +
            " and it was a fine one for the day", "en"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    run_dir = str(tmp_path / "drop")
    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01,
                       max_dup_span_fraction=0.5)
    ids = {r.doc_id for r in res["spans"].select("doc_id").collect()}
    assert 2 not in ids and {1, 3} <= ids       # b-side over threshold
    assert res["summary"]["after_spans"] == 2
    assert "span_chars_removed" not in res["summary"]

    run_dir2 = str(tmp_path / "remove")
    res2 = run_curation(spark, docs, run_dir2, dup_ngram_max=None,
                        dedup_threshold=1.01,
                        remove_dup_spans=True)
    assert res2["summary"]["after_spans"] == 3  # nothing dropped
    assert res2["summary"]["span_chars_removed"] > len(block) // 2
    spans_rows = {r.doc_id: r for r in res2["spans"].collect()}
    assert spans_rows[2].was_rewritten and \
        spans_rows[2].n_removed_chars > 0
    assert not spans_rows[3].was_rewritten
    assert "license3" in spans_rows[1].text     # a-side kept its copy
    assert "license3" not in spans_rows[2].text
    # chunks build from the REWRITTEN text
    assert res2["chunks"].filter(
        (F.col("doc_id") == 2) &
        F.col("chunk_text").contains("license3")).count() == 0

    # mode flip on the same run_dir rebuilds
    res4 = run_curation(spark, docs, run_dir2, dup_ngram_max=None,
                        dedup_threshold=1.01,
                        max_dup_span_fraction=0.5)
    assert res4["resumed"]["spans"] is False
    assert res4["summary"]["after_spans"] == 2

    # ADVICE r8: the two interventions are mutually exclusive — before,
    # remove_dup_spans silently won and the drop threshold was ignored
    with pytest.raises(ValueError, match="mutually exclusive"):
        run_curation(spark, docs, run_dir2, dup_ngram_max=None,
                     dedup_threshold=1.01,
                     max_dup_span_fraction=0.5, remove_dup_spans=True)


@pytest.mark.slow
def test_curation_line_dedup_and_bloom_decontam_stages(spark, tmp_path):
    """dedup_lines: boilerplate lines excised corpus-wide BEFORE quality
    scoring (CCNet ordering) with lines_removed accounting; the knob flip
    rebuilds filtered downstream. decontam_via='bloom' drops exactly the
    planted eval-leak doc like the exact gate, and flipping the gate
    rebuilds the clean stage."""
    boiler = "click here to accept all cookies and continue reading now"
    good = ("the story of it is on a hill and for the day it was a good "
            "one in the end with several more words to pass the filter")
    rows = [(1, good + "\n" + boiler),
            (2, boiler + "\n" + good + " second variant body"),
            (3, good + " third variant body entirely")]
    bench_sent = " ".join(f"qx{i} wy{i}" for i in range(7))[:200]
    rows.append((4, good + " " + bench_sent + " trailing words here"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"]) \
        .withColumn("lang", F.lit("en"))
    bench = spark.createDataFrame([(1, "intro " + bench_sent + " outro")],
                                  ["bench_id", "text"])

    run_dir = str(tmp_path / "cur")
    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01, dedup_lines=True,
                       benchmarks=bench, decontam_via="bloom")
    # the boiler line survives in doc 1 only (first occurrence)
    lines = {r.doc_id: r.text for r in res["lines"].collect()}
    assert boiler in lines[1] and boiler not in lines[2]
    assert res["summary"]["lines_removed"] == 1
    # bloom gate drops exactly the planted leak
    clean_ids = {r.doc_id for r in res["clean"].select("doc_id").collect()}
    assert 4 not in clean_ids and {1, 2, 3} <= clean_ids

    # unchanged knobs resume everything
    res2 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01, dedup_lines=True,
                        benchmarks=bench, decontam_via="bloom")
    assert res2["resumed"]["lines"] and res2["resumed"]["clean"]

    # gate flip rebuilds clean; line-knob flip rebuilds filtered
    res3 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01, dedup_lines=True,
                        benchmarks=bench, decontam_via="exact")
    assert res3["resumed"]["clean"] is False
    assert {r.doc_id for r in res3["clean"].select("doc_id").collect()} \
        == clean_ids
    res4 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01, benchmarks=bench)
    assert res4["resumed"]["filtered"] is False   # dep chain moved

    with pytest.raises(ValueError, match="decontam_via"):
        run_curation(spark, docs, run_dir, decontam_via="nope")


@pytest.mark.slow
def test_curation_split_and_mix_terminal_stages(spark, tmp_path):
    """r8 VERDICT next-round #7: val_frac commits the train/val split
    (doc-keyed — chunks of one doc co-travel), mix_weights commits the
    training mix over the TRAIN chunks with per-domain token/epoch
    accounting in the summary; both resume on unchanged knobs and
    rebuild when a knob moves; mismatched mix knobs are refused."""
    filler = ("the story of it is on a hill and for the day it was a "
              "good one in the end with plenty of additional words ")
    rows = [(i, filler + " ".join(f"w{i}x{j}" for j in range(120)),
             "en", "web" if i % 2 else "wiki") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    run_dir = str(tmp_path / "cur")
    kw = dict(dup_ngram_max=None, dedup_threshold=1.01,
              val_frac=0.25, mix_weights={"wiki": 3.0, "web": 1.0},
              mix_budget_tokens=4000)

    res = run_curation(spark, docs, run_dir, **kw)
    split = res["split"]
    assert res["summary"]["train_chunks"] + res["summary"]["val_chunks"] \
        == res["summary"]["chunks"]
    # every chunk of a doc lands on the same side
    sides = (split.groupBy("doc_id")
             .agg(F.count_distinct("split").alias("n")).collect())
    assert all(r.n == 1 for r in sides)

    mix = res["mix"]
    md = res["summary"]["mix_domains"]
    assert set(md) <= {"wiki", "web"}
    # wiki's 3:1 weight over similar-sized pools → more wiki tokens and
    # more epochs than web
    assert md["wiki"]["tokens"] > md["web"]["tokens"]
    assert md["wiki"]["epochs"] >= md["web"]["epochs"]
    # the mix draws from TRAIN chunks only
    val_ids = {(r.doc_id, r.chunk_idx) for r in
               split.filter("split = 'val'")
               .select("doc_id", "chunk_idx").collect()}
    mix_ids = {(r.doc_id, r.chunk_idx) for r in
               mix.select("doc_id", "chunk_idx").collect()}
    assert not (mix_ids & val_ids)

    res2 = run_curation(spark, docs, run_dir, **kw)
    assert res2["resumed"]["split"] is True
    assert res2["resumed"]["mix"] is True

    # knob moves rebuild exactly the affected stage (and its dependents)
    res3 = run_curation(spark, docs, run_dir, **{
        **kw, "mix_weights": {"wiki": 1.0, "web": 1.0}})
    assert res3["resumed"]["split"] is True
    assert res3["resumed"]["mix"] is False
    res4 = run_curation(spark, docs, run_dir, **{**kw, "val_frac": 0.5})
    assert res4["resumed"]["split"] is False
    assert res4["resumed"]["mix"] is False      # dep run_id changed

    with pytest.raises(ValueError, match="mix_weights"):
        run_curation(spark, docs, run_dir, dup_ngram_max=None,
                     dedup_threshold=1.01, mix_weights={"web": 1.0})


@pytest.mark.slow
def test_curation_dedup_keep_best_quality(spark, tmp_path):
    """dedup_keep='best_quality': the kept copy of a near-dup cluster is
    the highest-quality one (ties min id), the knob rebuilds the stage,
    and the default min-id behavior is unchanged."""
    from smart_pdf_md_spark.plans.curation import run_curation

    base = ("the story of it is on a hill and for the day it was a good "
            "one in the end " + " ".join(f"w{j}" for j in range(40)))
    # doc 5 = doc 1's text plus a long stopword-rich tail -> same cluster
    # (high jaccard), strictly higher quality score (longer, more stops)
    better = base + " and then the story of it was that the day was good"
    docs = spark.createDataFrame(
        [(1, base, "en"), (5, better, "en"),
         (9, "completely different original text " +
          " ".join(f"z{j} of the day" for j in range(30)), "en")],
        ["doc_id", "text", "lang"])

    d1 = str(tmp_path / "minid")
    res_min = run_curation(spark, docs, d1, dup_ngram_max=None,
                           dedup_threshold=0.5)
    kept_min = {r.doc_id for r in res_min["kept"].select("doc_id").collect()}

    d2 = str(tmp_path / "best")
    res_best = run_curation(spark, docs, d2, dup_ngram_max=None,
                            dedup_threshold=0.5,
                            dedup_keep="best_quality")
    kept_best = {r.doc_id
                 for r in res_best["kept"].select("doc_id").collect()}
    if kept_min == kept_best:
        # the pair must actually have clustered for the test to bite
        assert res_min["summary"]["after_dedup"] < 3
    assert 1 in kept_min and 5 not in kept_min
    assert 5 in kept_best and 1 not in kept_best
    assert 9 in kept_min and 9 in kept_best

    res2 = run_curation(spark, docs, d2, dup_ngram_max=None,
                        dedup_threshold=0.5, dedup_keep="min_id")
    assert res2["resumed"]["kept"] is False          # knob -> rebuild

    with pytest.raises(ValueError, match="dedup_keep"):
        run_curation(spark, docs, d2, dedup_keep="nope")
