"""Gopher/MassiveWeb quality-rule battery (Rae et al. 2021 A1.1): each
planted violation trips exactly its own rule, and the full metric table
matches a DuckDB recomputation bit-for-bit (board-candidate SQL twin)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from smart_pdf_md_spark.operators.textstats import (
    gopher_cols,
    gopher_passes_col,
)

_GOOD = ("the story of it is on a hill and that day we have been " +
         " ".join(f"word{i} with more" for i in range(20)))


def _fixture():
    rows = [
        (0, _GOOD),                                   # passes everything
        (1, "the of and to"),                         # too few words
        (2, "the be to of and that have with " +
            " ".join("a b c d e" for _ in range(20))),   # mean len < 3
        (3, _GOOD + " " + "#" * 40),                  # symbol ratio
        (4, "\n".join("• " + _GOOD[:40] for _ in range(10))),  # bullets
        (5, "\n".join(_GOOD[:40] + "..." for _ in range(10))), # ellipsis
        (6, "the of and that " + " ".join("123456" for _ in range(60))),
        (7, " ".join(f"w{i} x{i} y{i}" for i in range(30))),   # no stops
        (8, ""),                                       # empty
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _gopher(docs):
    """(id, every Gopher metric, passes) — the metric Columns and the
    conjunction the curation filter stage composes."""
    text = F.col("text")
    return docs.select(F.col("doc_id").alias("id"),
                       *[v.alias(k) for k, v in gopher_cols(text).items()],
                       gopher_passes_col(text).alias("passes"))


def _failed_rules(r) -> set[str]:
    """The default thresholds (the paper's), one verdict per rule."""
    rules = {
        "words": 50 <= r.n_words <= 100_000,
        "word_len": 3.0 <= r.mean_word_len <= 10.0,
        "symbol": r.symbol_ratio <= 0.1,
        "bullet": r.bullet_frac <= 0.9,
        "ellipsis": r.ellipsis_frac <= 0.3,
        "alpha": r.alpha_frac >= 0.8,
        "stops": r.stop_hits >= 2,
    }
    return {k for k, ok in rules.items() if not ok}


def test_gopher_rules_planted_violations(spark):
    docs = spark.createDataFrame(_fixture())
    got = {r.id: r for r in _gopher(docs).collect()}
    assert got[0].passes and _failed_rules(got[0]) == set()
    assert "words" in _failed_rules(got[1]) and "stops" not in \
        _failed_rules(got[1])
    assert "word_len" in _failed_rules(got[2])
    assert "symbol" in _failed_rules(got[3]) and got[3].symbol_ratio > 0.1
    assert "bullet" in _failed_rules(got[4]) and got[4].bullet_frac == 1.0
    assert "ellipsis" in _failed_rules(got[5]) and \
        got[5].ellipsis_frac == 1.0
    assert "alpha" in _failed_rules(got[6]) and got[6].alpha_frac < 0.8
    assert "stops" in _failed_rules(got[7]) and got[7].stop_hits == 0
    assert not got[8].passes and got[8].n_words == 0
    for i in range(1, 9):
        assert not got[i].passes
    # metrics ride along for threshold tuning
    assert got[0].stop_hits >= 2 and got[0].alpha_frac >= 0.8


def test_gopher_rules_duckdb_parity(spark):
    import duckdb

    docs_pd = _fixture()
    docs = spark.createDataFrame(docs_pd)
    con = duckdb.connect()
    con.register("docs", docs_pd)
    want = con.execute(r"""
    WITH tk AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      FROM docs
    ), ln AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> length(x) > 0) AS ls
      FROM docs
    )
    SELECT tk.doc_id AS id,
      CAST(len(t) AS INT) AS n_words,
      round(CASE WHEN len(t) = 0 THEN 0.0 ELSE
        list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t)
        END + 1e-9, 4) AS mean_word_len,
      round(CASE WHEN len(t) = 0 THEN 0.0 ELSE
        ((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3.0
         + (length(text) - length(replace(text, '…', '')))) / len(t)
        END + 1e-9, 4) AS symbol_ratio,
      round(CASE WHEN len(ls) = 0 THEN 0.0 ELSE
        len(list_filter(ls, x -> starts_with(x, '•') OR
            starts_with(x, '-') OR starts_with(x, '*'))) * 1.0 / len(ls)
        END + 1e-9, 4) AS bullet_frac,
      round(CASE WHEN len(ls) = 0 THEN 0.0 ELSE
        len(list_filter(ls, x -> ends_with(x, '...') OR
            ends_with(x, '…'))) * 1.0 / len(ls)
        END + 1e-9, 4) AS ellipsis_frac,
      round(CASE WHEN len(t) = 0 THEN 0.0 ELSE
        len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        * 1.0 / len(t) END + 1e-9, 4) AS alpha_frac,
      CAST(len(list_intersect(list_distinct(list_transform(t, x -> lower(x))),
           ['the','be','to','of','and','that','have','with'])) AS INT)
        AS stop_hits
    FROM tk JOIN ln USING (doc_id) ORDER BY id
    """).df()
    got = (_gopher(docs)
           .select("id", "n_words", "mean_word_len", "symbol_ratio",
                   "bullet_frac", "ellipsis_frac", "alpha_frac",
                   "stop_hits")
           .toPandas().sort_values("id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_curation_gopher_knob(spark, tmp_path):
    """gopher=True adds the full rule battery to the filter stage's one
    select: a doc failing only a Gopher rule (stop-word-free) drops; the
    knob participates in the params digest (flip rebuilds); default off
    keeps prior behavior."""
    from smart_pdf_md_spark.plans.curation import run_curation

    good = ("the story of it is on a hill and that day we have been " +
            " ".join(f"word{i} with more" for i in range(20)))
    # passes the basic quality score (long, low punct) but has ZERO
    # Gopher stop words -> only the battery catches it
    sneaky = " ".join(f"w{i} x{i} y{i} z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, good, "en"), (2, sneaky, "en")], ["doc_id", "text", "lang"])

    run_dir = str(tmp_path / "cur")
    base = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01)
    assert base["summary"]["after_filter"] == 2       # default: both pass

    res = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                       dedup_threshold=1.01, gopher=True)
    assert res["resumed"]["filtered"] is False        # knob -> rebuild
    ids = {r.doc_id for r in res["filtered"].select("doc_id").collect()}
    assert ids == {1}
    assert res["summary"]["after_filter"] == 1

    res2 = run_curation(spark, docs, run_dir, dup_ngram_max=None,
                        dedup_threshold=1.01, gopher=True)
    assert res2["resumed"]["filtered"] is True
