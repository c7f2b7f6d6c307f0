"""Out-of-vocabulary rate against a word table: known per-document
values and DuckDB parity."""

from __future__ import annotations

from smart_pdf_md_spark.operators import bpe as B


CORPUS = [
    (1, "low low low low low lower lower newest newest"),
    (2, "newest newest newest newest widest widest widest"),
    (3, "the newest low bid was the widest bid of the day"),
]


def test_oov_rate_known_values_and_duckdb_parity(spark):
    """OOV against a fixed lexicon: known per-doc rates, empty doc emits
    no row, full DuckDB parity (board-candidate SQL shape)."""
    import duckdb
    import pandas as pd

    docs_pd = pd.DataFrame(CORPUS + [(4, "")], columns=["doc_id", "text"])
    vocab_pd = pd.DataFrame({"word": ["low", "the", "bid", "of", "was"]})
    docs = spark.createDataFrame(docs_pd)
    vocab = spark.createDataFrame(vocab_pd)

    got = {r.doc_id: r for r in B.oov_rate(docs, vocab).collect()}
    assert 4 not in got                       # empty doc: no row
    # doc 1: "low"×5 in-vocab, lower×2 + newest×2 OOV → 4/9
    assert (got[1].n_tokens, got[1].n_oov) == (9, 4)
    assert got[1].oov_rate == round(4 / 9 + 1e-9, 4)

    con = duckdb.connect()
    con.register("docs", docs_pd)
    con.register("vocab", vocab_pd)
    want = con.execute(r"""
    WITH stream AS (
      SELECT doc_id, lower(unnest(tk)) AS word FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        FROM docs)
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS INT)
             AS n_oov,
           round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*) + 1e-9, 4) AS oov_rate
    FROM stream s LEFT JOIN (SELECT DISTINCT word FROM vocab) v
      USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """).df()
    got_pd = B.oov_rate(docs, vocab).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got_pd, want, check_dtype=False,
                                  check_exact=False, rtol=0, atol=1e-9)
