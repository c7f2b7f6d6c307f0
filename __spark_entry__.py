"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every implemented operator family from SURVEY.md §2 plus
the training-data-pipeline operators (dedup / similarity / text analysis /
multimodal) over the driver testdata; `oracle_sql()` gives the DuckDB
equivalent for everything ANSI-SQL-expressible. KG-pipeline operators that
are not SQL-expressible (MinHash linking, connected components, chunked
extraction) are exposed as rows-only checks over the deterministic built-in
corpus.

Column-name parity rule: every computed column is aliased identically in the
Spark plan and the SQL text. Floats are rounded on BOTH sides (driver
compares order-insensitive value hashes).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from smart_pdf_md_spark.operators import bpe as BP  # noqa: E402
from smart_pdf_md_spark.operators import dedup as D  # noqa: E402
from smart_pdf_md_spark.operators import lm as LM  # noqa: E402
from smart_pdf_md_spark.operators import multimodal as MM  # noqa: E402
from smart_pdf_md_spark.operators import retrieval as R  # noqa: E402
from smart_pdf_md_spark.operators import sketches as SK  # noqa: E402
from smart_pdf_md_spark.operators import similarity as SIM  # noqa: E402
from smart_pdf_md_spark.operators import textstats as TS  # noqa: E402
from smart_pdf_md_spark.sources.tables import load_table  # noqa: E402

EN = TS.EN_STOPWORDS
_EN_SQL = "[" + ", ".join(f"'{w}'" for w in EN) + "]"


_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Make smart_pdf_md_spark importable on the Python workers of ANY
    SparkSession (the driver builds its own, possibly from another cwd):
    zip the package once and addPyFile it — the runtime equivalent of
    `spark-submit --py-files`. Idempotent per session."""
    key = id(spark)
    if key in _SHIPPED:
        return
    import hashlib
    import shutil
    import tempfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "smart_pdf_md_spark")
    # Key the shipped zip on a content digest of the package source so an
    # edited package never reuses a stale zip (workers silently running old
    # code), and concurrent sessions never race on one predictable path.
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(pkg_dir)):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(f for f in files if f.endswith(".py")):
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, pkg_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    digest = h.hexdigest()[:16]
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"smart_pdf_md_spark_{digest}.zip")
    if not os.path.exists(zip_path):
        tmp_dir = tempfile.mkdtemp(prefix="smd_zip_")
        built = shutil.make_archive(
            os.path.join(tmp_dir, "pkg"), "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir="smart_pdf_md_spark")
        os.replace(built, zip_path)  # atomic publish
        shutil.rmtree(tmp_dir, ignore_errors=True)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added or classic server restrictions — harmless
    _SHIPPED.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-label corpus profile — documents ⋈ embeddings with
    quality/token stats and a deterministic top-1 exemplar per label."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q = TS.quality_score(docs)
    tok = TS.token_count(docs)
    joined = (
        docs.select("doc_id", "lang")
        .join(q, "doc_id")
        .join(tok, "doc_id")
        .join(emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id")
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            # exemplar = highest-quality doc, ties → smallest doc_id (deterministic)
            F.min_by("doc_id", F.struct(-F.col("quality"), F.col("doc_id"))).alias("exemplar_doc"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# SQL-oracle query pairs: name -> (builder(spark, sf_dir) -> DF, duckdb sql)
# ---------------------------------------------------------------------------

def _q1_pricing(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _s1_scan_project(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


_S1_SQL = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
"""


def _s3_lang_filter(spark, sf):
    return _t(spark, sf, "documents").filter(F.col("lang").isin("en", "de")) \
        .select("doc_id", "lang", "source")


_S3_SQL = "SELECT doc_id, lang, source FROM documents WHERE lang IN ('en','de')"


def _p1_textual(spark, sf):
    docs = _t(spark, sf, "documents")
    nows = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return docs.select("doc_id", nows.alias("n_nows"),
                       (nows >= 200).alias("is_textual"))


_P1_SQL = """
SELECT doc_id, length(regexp_replace(text, '\\s', '', 'g')) AS n_nows,
       length(regexp_replace(text, '\\s', '', 'g')) >= 200 AS is_textual
FROM documents
"""


def _p2_routing(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.when(F.col("n_chars") < 100, "skip")
        .when(F.col("lang") == "en", "fast")
        .otherwise("marker").alias("route"),
    )


_P2_SQL = """
SELECT doc_id,
       CASE WHEN n_chars < 100 THEN 'skip'
            WHEN lang = 'en' THEN 'fast'
            ELSE 'marker' END AS route
FROM documents
"""


def _j1_broadcast(spark, sf):
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


_J1_SQL = """
SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


def _j4_anti(spark, sf):
    # customers with no large order (non-empty at every sf, unlike the
    # plain no-orders variant which is vacuous on this data)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey", "c_name")


_J4_SQL = ("SELECT c_custkey, c_name FROM customer "
           "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
           "AND o_totalprice > 300000)")


def _w1_topk(spark, sf):
    from pyspark.sql import Window
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
            .select("o_orderpriority", "o_orderkey",
                    F.round("o_totalprice", 2).alias("totalprice"), "rn"))


_W1_SQL = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) WHERE rn <= 3
"""


def _w3_sessionize(spark, sf):
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count("*").alias("n_events"))


_W3_SQL = """
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) GROUP BY user_id
"""


def _agg_cube(spark, sf):
    docs = _t(spark, sf, "documents")
    return (docs.cube("lang", "source")
            .agg(F.count("*").alias("n"))
            .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    F.coalesce("source", F.lit("ALL")).alias("source"), "n"))


_CUBE_SQL = """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*) AS n
FROM documents GROUP BY CUBE (lang, source)
"""


def _agg_median(spark, sf):
    # percentile + count-distinct + sum in one slot (driver sweep caps at 50)
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)") + 1e-9, 4).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)") + 1e-9, 4).alias("p90_qty"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


_MEDIAN_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS median_qty,
       round(quantile_cont(l_quantity, 0.9) + 1e-9, 4) AS p90_qty,
       count(DISTINCT l_suppkey) AS n_supp,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_returnflag
"""


def _j5b_salted_agg(spark, sf):
    from smart_pdf_md_spark.operators.skew import salted_agg
    # two-phase salted aggregation over a skewed key; result identical to a
    # plain GROUP BY (the salt only reshapes the shuffle)
    return salted_agg(_t(spark, sf, "events"), "event_type", "value",
                      salt_cols=["event_id"])


_J5B_SQL = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type
"""


def _t1_grouped_zscore(spark, sf):
    return TS.grouped_zscore(_t(spark, sf, "documents"))


_T1_SQL = """
SELECT doc_id, lang,
       round(CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY lang) > 0
                  THEN (n_chars - avg(n_chars) OVER (PARTITION BY lang))
                       / stddev_pop(n_chars) OVER (PARTITION BY lang)
                  ELSE 0.0 END + 1e-9, 4) AS zscore
FROM documents
"""


def _dedup_exact(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"))


_DEDUP_EXACT_SQL = """
SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


def _dedup_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.2)


_DEDUP_JACCARD_SQL = """
WITH toks AS (
  SELECT * FROM (
    SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
  ) WHERE len(tk) >= 3
), sh AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.sz + sb.sz - i) + 1e-9, 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
"""


def _dedup_cosine(spark, sf):
    return D.embedding_cosine_pairs(_t(spark, sf, "embeddings"), threshold=0.5)


_DEDUP_COSINE_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) + 1e-9, 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) + 1e-9, 4) >= 0.5
"""


def _ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return SIM.topk_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=5)


_ANN_SQL = """
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) + 1e-9, 4) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) + 1e-9, 4) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
  WHERE q.vec_id < 3
) WHERE rank <= 5
"""


def _text_tokens(spark, sf):
    return TS.token_count(_t(spark, sf, "documents"))


_TOKENS_SQL = """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
            AS INT) AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       length(regexp_replace(text, '\\s', '', 'g')) AS n_chars_nows
FROM documents
"""


def _text_chunking(spark, sf):
    return TS.chunk_documents(_t(spark, sf, "documents"),
                              chunk_tokens=100, overlap=20)


# chunk starts step by 80; md5-free reconstruction via list slicing on both
# engines; hashing chunk_text would also match (md5 both sides) but the raw
# text keeps the check strongest
_CHUNK_SQL = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents
)
SELECT doc_id,
       CAST(i // 80 AS INT) AS chunk_idx,
       array_to_string(toks[i + 1 : i + 100], ' ') AS chunk_text,
       CAST(least(len(toks) - i, 100) AS INT) AS chunk_len
FROM t, UNNEST(range(0, len(toks), 80)) AS u(i)
WHERE len(toks) > 0
"""


def _text_scrub(spark, sf):
    return TS.scrub_text(_t(spark, sf, "documents"))


# same four patterns, same order, 'g' flag; RE2 (DuckDB) and Java regex
# (Spark) agree on this lookaround-free subset
_SCRUB_SQL = """
WITH s AS (
  SELECT doc_id, text,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\\s<>"'']+', '<URL>', 'g'),
        '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
      '\\b(?:[0-9][ -]?){13,18}[0-9]\\b', '<CARD>', 'g') AS text_scrubbed
  FROM documents
)
SELECT doc_id, text_scrubbed, text != text_scrubbed AS was_redacted FROM s
"""


def _text_quality(spark, sf):
    return TS.quality_score(_t(spark, sf, "documents"))


_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk,
         length(text) AS n,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM documents
), r AS (
  SELECT doc_id,
         CASE WHEN len(tk) = 0 THEN 0.0
              ELSE len(list_filter(tk, t -> list_contains({_EN_SQL}, lower(t)))) * 1.0 / len(tk)
         END AS stop_ratio,
         CASE WHEN n = 0 THEN 0.0 ELSE punct * 1.0 / n END AS punct_ratio,
         least(n / 500.0, 1.0) AS len_sat
  FROM base
)
SELECT doc_id, round(stop_ratio + 1e-9, 4) AS stop_ratio,
       round(punct_ratio + 1e-9, 4) AS punct_ratio,
       round(0.4 * len_sat + 0.3 * (1.0 - punct_ratio) + 0.3 * stop_ratio + 1e-9, 4) AS quality
FROM r
"""


def _text_fingerprint(spark, sf):
    return TS.fingerprint(_t(spark, sf, "documents"))


# r8: hash-grams on BOTH sides (r7 VERDICT next-round #6) — token hash =
# 48-bit md5 prefix parsed to BIGINT (identical in both engines), gram =
# shift-7/XOR combine over the 3-window, fingerprint = numeric min; sub-3-
# token docs fall back to the 48-bit hash of the whole text. No gram
# string and no per-gram md5 on either side.
_FINGERPRINT_SQL = """
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
  FROM documents
), hashed AS (
  SELECT doc_id, text, tk,
         list_transform(tk,
           t -> CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT)) AS th
  FROM base
)
SELECT doc_id,
       CASE WHEN len(tk) < 3
            THEN CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT)
            ELSE list_min(list_transform(
                   range(1, greatest(len(tk) - 3, 0) + 2),
                   i -> xor(xor(th[i] << 7, th[i+1]) << 7, th[i+2])))
       END AS fingerprint
FROM hashed
"""


def _mm_meta(spark, sf):
    media = MM.documents_as_media(_t(spark, sf, "documents"))
    return media.select("media_id", "media_type",
                        F.col("meta.n_bytes").alias("n_bytes"))


_MM_META_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN lang = 'en' THEN 'image/png' ELSE 'audio/wav' END AS media_type,
       octet_length(encode(text)) AS n_bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# rows-only checks (non-SQL-expressible): KG pipeline + approximate ops
# ---------------------------------------------------------------------------

_KG_N = 300  # deterministic built-in corpus size for rows-only checks


def _kg_corpus(spark):
    from smart_pdf_md_spark.corpus import corpus_df
    _ensure_shipped(spark)
    return corpus_df(spark, _KG_N)


def _kg_entities(spark, sf):
    from smart_pdf_md_spark.operators.cc import entity_table
    from smart_pdf_md_spark.operators.extract import mentions_only
    from smart_pdf_md_spark.operators.linking import link_edges
    from smart_pdf_md_spark.plans.pipeline import build_mentions
    m = mentions_only(build_mentions(spark, _kg_corpus(spark)))
    return entity_table(m, link_edges(m)) \
        .select("name", "canonical_name", "entity_id", "component_size")


def _kg_canonical_triples(spark, sf):
    from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
    from smart_pdf_md_spark.operators.extract import mentions_only
    from smart_pdf_md_spark.operators.linking import link_edges
    from smart_pdf_md_spark.plans.pipeline import build_triples
    plan = build_triples(spark, _kg_corpus(spark))
    ents = entity_table(plan["mentions"], link_edges(plan["mentions"]))
    return canonical_triples(plan["triples"], ents) \
        .select("subj", "pred", "obj", "obj_raw", "entity_id")


def _j7_asof_join(spark, sf):
    # for each error event: the most recent prior signup of the same user
    from smart_pdf_md_spark.operators.asof import asof_join
    ev = _t(spark, sf, "events")
    signups = ev.filter(F.col("event_type") == "signup") \
        .select("user_id", "ts", F.col("event_id").alias("signup_event"))
    errors = ev.filter(F.col("event_type") == "error") \
        .select("event_id", "user_id", "ts")
    out = asof_join(signups, errors, on="ts", by="user_id",
                    value_cols=["signup_event"])
    return out.select("event_id", "user_id", "asof_signup_event")


_J7_SQL = """
SELECT event_id, user_id, asof_signup_event FROM (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY ts ASC, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_event
  FROM events WHERE event_type IN ('signup', 'error')
) WHERE event_type = 'error'
"""


def _g1_two_hop(spark, sf):
    # two-hop traversal expressed on the star schema: customer -[placed]->
    # order -[contains]-> part, for one customer segment (the SQL-checkable
    # stand-in for two_hop_paths over triples)
    from smart_pdf_md_spark.operators.graph import two_hop_paths
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    placed = c.join(o, c.c_custkey == o.o_custkey).select(
        F.col("c_custkey").cast("string").alias("subj"),
        F.lit("PLACED").alias("pred"),
        F.col("o_orderkey").cast("string").alias("obj"))
    contains = li.select(
        F.col("l_orderkey").cast("string").alias("subj"),
        F.lit("CONTAINS").alias("pred"),
        F.col("l_partkey").cast("string").alias("obj"))
    paths = two_hop_paths(placed.unionByName(contains), "PLACED", "CONTAINS")
    return paths.select(F.col("a").alias("custkey"),
                        F.col("b").alias("orderkey"),
                        F.col("c").alias("partkey"))


_G1_SQL = """
SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS custkey,
       CAST(o_orderkey AS VARCHAR) AS orderkey,
       CAST(l_partkey AS VARCHAR) AS partkey
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
"""


def _g2_degrees(spark, sf):
    # degree stats over the same star-derived edge set
    from smart_pdf_md_spark.operators.graph import degrees
    o = _t(spark, sf, "orders")
    edges = o.select(F.col("o_custkey").cast("string").alias("subj"),
                     F.lit("PLACED").alias("pred"),
                     F.col("o_orderkey").cast("string").alias("obj"))
    return degrees(edges)


_G2_SQL = """
WITH e AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS subj,
                  CAST(o_orderkey AS VARCHAR) AS obj FROM orders),
od AS (SELECT subj AS node, count(*) AS out_degree FROM e GROUP BY subj),
id2 AS (SELECT obj AS node, count(*) AS in_degree FROM e GROUP BY obj)
SELECT coalesce(od.node, id2.node) AS node,
       coalesce(out_degree, 0) AS out_degree,
       coalesce(in_degree, 0) AS in_degree
FROM od FULL OUTER JOIN id2 ON od.node = id2.node
"""


def _kg_pagerank(spark, sf):
    from smart_pdf_md_spark.operators.graph import pagerank
    from smart_pdf_md_spark.plans.pipeline import build_triples
    return pagerank(build_triples(spark, _kg_corpus(spark))["triples"],
                    iterations=5)


def _dedup_minhash(spark, sf):
    return D.minhash_dedup_pairs(_t(spark, sf, "documents"), threshold=0.5)


def _j8_range_join(spark, sf):
    # binned interval join (operators/asof.py:range_join, exact-vs-bruteforce
    # pinned by tests/test_asof.py) — oracle expresses the exact range
    # predicate directly; only integer ids cross the compare (no float hash
    # risk). Intervals: each signup covers [value, value+25); points: every
    # event of the first 20 users.
    from smart_pdf_md_spark.operators.asof import range_join
    ev = _t(spark, sf, "events")
    ivs = (ev.filter((F.col("event_type") == "signup") & (F.col("user_id") < 20))
           .select(F.col("event_id").alias("ivl_id"),
                   F.col("value").alias("v_start"),
                   (F.col("value") + 25.0).alias("v_end")))
    pts = (ev.filter(F.col("user_id") < 20)
           .select(F.col("event_id").alias("point_event"),
                   F.col("value").alias("v")))
    return range_join(pts, ivs, point_col="v", start_col="v_start",
                      end_col="v_end").select("point_event", "ivl_id")


_J8_SQL = """
SELECT p.event_id AS point_event, i.event_id AS ivl_id
FROM (SELECT event_id, value FROM events WHERE user_id < 20) p
JOIN (SELECT event_id, value FROM events
      WHERE event_type = 'signup' AND user_id < 20) i
  ON i.value <= p.value AND p.value < i.value + 25.0
"""


def _mean_pool(spark, sf):
    # dim-wide agg in ONE groupBy (operators/similarity.py:mean_pool); the
    # pooled vector is projected to a %.4f CSV string (driver Categorical
    # canon cannot hash list cells). round(x+1e-9,4)+0 normalizes both the
    # half-way ties and IEEE -0.0 on both engines.
    emb = _t(spark, sf, "embeddings")
    pooled = SIM.mean_pool(emb, "label", normalize=False)
    emb_str = F.array_join(
        F.transform("embedding",
                    lambda x: F.format_string("%.4f",
                                              F.round(x + 1e-9, 4) + 0.0)), ",")
    return pooled.select("label", "n_vecs", emb_str.alias("embedding"))


_MEAN_POOL_SQL = """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (SELECT label, i, v[i] AS x FROM e, UNNEST(range(1, len(v) + 1)) AS t(i)),
m AS (SELECT label, i, round(avg(x) + 1e-9, 4) + 0 AS c FROM ex GROUP BY label, i),
n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label)
SELECT m.label, n.n_vecs,
       array_to_string(list(printf('%.4f', m.c) ORDER BY m.i), ',') AS embedding
FROM m JOIN n ON m.label = n.label
GROUP BY m.label, n.n_vecs
"""


def _ann_ivf(spark, sf):
    # IVF inverted-list ANN (similarity.py:topk_ivf): deterministic k-means
    # codebook, probe = equi-join on list_id. Approximate → rows-only (recall
    # ≥ gates live in tests/test_dedup_similarity.py).
    emb = _t(spark, sf, "embeddings")
    return SIM.topk_ivf(emb, emb.filter(F.col("vec_id") < 3), k=5)


def _repetition_stats(spark, sf):
    # Gopher/RefinedWeb duplicate-line / duplicate-3-gram ratios
    # (textstats.py:repetition_stats) — scan-side Column exprs; the DuckDB
    # parity SQL below is the in-test pin from
    # test_repetition_stats_known_values lifted onto the driver board
    # (r4 VERDICT next-round #2).
    return TS.repetition_stats(_t(spark, sf, "documents"))


_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)),
                     ln -> length(trim(ln)) > 0) AS lines,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
  FROM documents
), g AS (
  SELECT doc_id, lines,
         CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS grams
  FROM base
)
SELECT doc_id,
       round(CASE WHEN len(lines) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) END + 1e-9, 4) AS dup_line_ratio,
       round(CASE WHEN len(grams) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(grams)) * 1.0 / len(grams) END + 1e-9, 4) AS dup_ngram_ratio
FROM g
"""


def _triangle_count(spark, sf):
    # degree-ordered triangle counting (graph.py:triangle_count,
    # Suri/Vassilvitskii WWW'11) over a tripartite projection of lineitem:
    # each row contributes order–part, order–supplier, part–supplier edges
    # (prefixed so key spaces can't collide), so every distinct (o, p, s)
    # combination with all three links closes a triangle. The oracle is the
    # canonical u<v three-self-join count.
    from smart_pdf_md_spark.operators.graph import triangle_count
    li = _t(spark, sf, "lineitem")

    def node(prefix, col):
        return F.concat(F.lit(prefix), F.col(col).cast("string"))

    def rel(a, b):
        return li.select(a.alias("subj"), F.lit("E").alias("pred"),
                         b.alias("obj"))

    edges = (rel(node("o", "l_orderkey"), node("p", "l_partkey"))
             .unionByName(rel(node("o", "l_orderkey"), node("s", "l_suppkey")))
             .unionByName(rel(node("p", "l_partkey"), node("s", "l_suppkey"))))
    return triangle_count(edges)


_TRIANGLE_SQL = """
WITH e AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
    SELECT 'o' || l_orderkey AS a, 'p' || l_partkey AS b FROM lineitem
    UNION ALL SELECT 'o' || l_orderkey, 's' || l_suppkey FROM lineitem
    UNION ALL SELECT 'p' || l_partkey, 's' || l_suppkey FROM lineitem
  ) WHERE a <> b
)
SELECT count(*) AS n_triangles
FROM e e1 JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
"""


def _curation_chunks(spark, sf):
    # the staged curation pipeline end-to-end (plans/curation.py:
    # run_curation — scrub → score/filter → dedup-to-keeper → chunk) on the
    # driver surface (r4 VERDICT next-round #7): runs into a fresh tempdir
    # (committed snapshots + manifests exercised every sweep) and returns
    # the chunk table a trainer would consume. Deterministic: id-hash
    # sampling, min-id keepers, fixed thresholds. The chunk table is
    # checkpointed so the run_dir can be removed immediately (ADVICE r5:
    # board sweeps were leaking one committed-snapshot dir per invocation).
    import shutil
    import tempfile

    from smart_pdf_md_spark.plans.curation import run_curation
    run_dir = tempfile.mkdtemp(prefix="kg_curation_board_")
    try:
        res = run_curation(spark, _t(spark, sf, "documents"), run_dir)
        return res["chunks"].localCheckpoint(eager=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _bm25_topk_q(spark, sf):
    # hits-sized BM25 (operators/retrieval.py — r5 VERDICT next-round #1):
    # the query set derives deterministically from the corpus itself (the
    # first 4 tokens of every 97-stride document), so the board needs no
    # side table and every query is guaranteed on-vocabulary.
    docs = _t(spark, sf, "documents")
    q = docs.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"),
                                 1, 4)).alias("query"))
    return R.bm25_topk(docs, q, k=5)


_BM25_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents
), qsrc AS (
  SELECT doc_id AS query_id, array_to_string(toks[1:4], ' ') AS query
  FROM base WHERE doc_id % 97 = 3
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
    FROM base WHERE len(toks) > 0)
  GROUP BY doc_id, dl, term
), stats AS (
  SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl
  FROM base WHERE len(toks) > 0
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), qterms AS (
  SELECT query_id, unnest(list_distinct(
    CASE WHEN length(trim(query)) = 0 THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(query), '\s+') END)) AS term
  FROM qsrc
), scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * (1.2 + 1)) /
             (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
         ) + 1e-9, 4) AS score
  FROM tf JOIN qterms q USING (term)
          JOIN dfreq USING (term)
          CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


def _decontaminate_q(spark, sf):
    # 13-gram benchmark decontamination (operators/dedup.py:decontaminate):
    # the "benchmark" set derives deterministically from the corpus (every
    # 83-stride document), so the bench docs themselves flag contaminated
    # and everything else is clean unless it genuinely shares a 13-gram.
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 83 == 11).select("doc_id", "text")
    return D.decontaminate(docs, bench)


def _gram13_sql(arr: str) -> str:
    terms = " || ' ' || ".join(f"{arr}[i+{j}]" for j in range(13))
    return (f"CASE WHEN len({arr}) < 13 THEN []::VARCHAR[] "
            f"ELSE list_distinct(list_transform(range(1, len({arr}) - 11), "
            f"i -> {terms})) END")


# Spark hashes grams (xxhash64) before probing, the oracle compares STRING
# grams — equal counts pin that the hashing is semantically invisible.
_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
  FROM documents
), dg AS (
  SELECT doc_id, {_gram13_sql('tk')} AS grams FROM toks
), bg AS (
  SELECT list_distinct(flatten(list(grams))) AS bgrams FROM dg
  WHERE doc_id % 83 = 11
), hit AS (
  SELECT doc_id AS id, len(grams) AS n_grams,
         len(list_filter(grams, g -> list_contains(bgrams, g))) AS hit_grams
  FROM dg CROSS JOIN bg
)
SELECT id, n_grams, hit_grams,
       CASE WHEN n_grams = 0 THEN 0.0
            ELSE round(hit_grams * 1.0 / n_grams + 1e-9, 4)
       END AS contamination_ratio,
       hit_grams > 0 AS contaminated
FROM hit
"""


def _adaptive_quality_q(spark, sf):
    # top-frac-per-stratum quality filter (textstats.adaptive_quality_filter
    # — exact percent_rank, doc_id tie-break, deterministic at any
    # parallelism).
    return TS.adaptive_quality_filter(_t(spark, sf, "documents"), frac=0.8)


_ADAPTIVE_SQL = f"""
WITH base AS (
  SELECT doc_id, text, lang, source, n_chars,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk,
         length(text) AS n,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM documents
), q AS (
  SELECT doc_id, text, lang, source, n_chars,
         round(0.4 * least(n / 500.0, 1.0)
             + 0.3 * (1.0 - CASE WHEN n = 0 THEN 0.0
                                 ELSE punct * 1.0 / n END)
             + 0.3 * CASE WHEN len(tk) = 0 THEN 0.0
                          ELSE len(list_filter(tk,
                                   t -> list_contains({_EN_SQL}, lower(t))))
                               * 1.0 / len(tk) END
             + 1e-9, 4) AS quality
  FROM base
), r AS (
  SELECT *, round(percent_rank() OVER (PARTITION BY lang
                                       ORDER BY quality DESC, doc_id)
                  + 1e-9, 4) AS q_rank
  FROM q
)
SELECT doc_id, text, lang, source, n_chars, quality, q_rank
FROM r WHERE q_rank <= 0.8
"""


def _unigram_logprob_q(spark, sf):
    # CCNet-style unigram LM scoring (operators/lm.py:unigram_logprob):
    # per-doc mean log10 unigram probability under the corpus' own
    # empirical distribution — exact, so a full oracle pair.
    return LM.unigram_logprob(_t(spark, sf, "documents"))


_UNIGRAM_SQL = r"""
WITH terms AS (
  SELECT doc_id, unnest(toks) AS term FROM (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
    FROM documents)
), per_doc AS (
  SELECT doc_id, term, count(*) AS cnt FROM terms GROUP BY doc_id, term
), tf AS (
  SELECT term, sum(cnt) AS tf FROM per_doc GROUP BY term
), total AS (SELECT sum(tf) AS total FROM tf)
SELECT doc_id, CAST(sum(cnt) AS INT) AS n_tokens,
       round(sum(cnt * log10(tf / total)) / sum(cnt) + 1e-9, 4) AS avg_logprob
FROM per_doc JOIN tf USING (term) CROSS JOIN total
GROUP BY doc_id
"""


def _ngram_novelty_q(spark, sf):
    # cross-document 3-gram novelty (operators/dedup.py:ngram_novelty):
    # Spark hashes grams (xxhash64) before the postings agg, the oracle
    # compares STRING grams — equal counts pin that hashing is
    # semantically invisible (the decontaminate discipline).
    return D.ngram_novelty(_t(spark, sf, "documents"))


_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
  FROM documents
), dg AS (
  SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS grams
  FROM toks
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM dg
), post AS (
  SELECT gram, count(*) AS pn FROM g GROUP BY gram
), shared AS (
  SELECT doc_id, count(*) AS shared_grams
  FROM g JOIN post USING (gram) WHERE pn > 1 GROUP BY doc_id
)
SELECT doc_id AS id, len(grams) AS n_grams,
       coalesce(shared_grams, 0) AS shared_grams,
       CASE WHEN len(grams) = 0 THEN 1.0
            ELSE round(1.0 - coalesce(shared_grams, 0) * 1.0 / len(grams)
                       + 1e-9, 4) END AS novelty
FROM dg LEFT JOIN shared USING (doc_id)
"""


def _cap_per_group_q(spark, sf):
    # per-domain cap (textstats.cap_per_group — WindowGroupLimit top-n per
    # key): n_chars is the deterministic quality proxy present in the
    # synthetic schema; ties break by doc_id on both engines.
    return TS.cap_per_group(_t(spark, sf, "documents"), "source", n=20,
                            order_col="n_chars")


_CAP_SQL = """
SELECT doc_id, text, lang, source, n_chars, group_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id) AS INT) AS group_rank
  FROM documents)
WHERE group_rank <= 20
"""


def _ann_pq(spark, sf):
    # PQ ADC+rerank ANN (similarity.py:topk_pq): numpy codebook → not
    # SQL-expressible → rows-only; recall/determinism gates live in
    # tests/test_pq.py. Same query set shape as the LSH/IVF rows.
    emb = _t(spark, sf, "embeddings")
    return SIM.topk_pq(emb, emb.filter(F.col("vec_id") < 3), k=5,
                       rerank_from=25)


def _hll_documents(spark, sf):
    # mergeable-sketch path on the driver surface (operators/sketches.py):
    # the committable (bucket, rho) register table of distinct document
    # texts, reduced to its cardinality estimate next to the exact count.
    # xxhash64 has no DuckDB twin → rows-only; the 5%-error and
    # split-merge≡whole gates live in tests/test_sketches.py.
    docs = _t(spark, sf, "documents")
    regs = SK.hll_registers(docs.select("text"), p=12)
    est = SK.hll_estimate(regs, p=12)
    exact = docs.select("text").distinct().count()
    return spark.createDataFrame(
        [(12, float(round(est, 4)), exact)],
        "p int, est_distinct double, exact_distinct bigint")


def _oov_rate_q(spark, sf):
    # per-doc OOV rate against a SELF-CONTAINED vocabulary: the corpus'
    # own words with total count >= 5 (operators/bpe.py:oov_rate) — the
    # corpus-vs-vocab fit signal, full value parity
    docs = _t(spark, sf, "documents")
    vocab = BP.word_freq_table(docs).filter(F.col("n") >= 5)
    return BP.oov_rate(docs, vocab)


_OOV_SQL = r"""
WITH stream AS (
  SELECT doc_id, lower(unnest(tk)) AS word FROM (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
    FROM documents)
), vocab AS (
  SELECT word FROM stream GROUP BY word HAVING count(*) >= 5
)
SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS INT)
         AS n_oov,
       round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*) + 1e-9, 4) AS oov_rate
FROM stream s LEFT JOIN vocab v USING (word)
GROUP BY doc_id
"""


def _span_coverage_q(spark, sf):
    # interval-union duplicated-char coverage (operators/dedup.py:
    # span_coverage) over a DETERMINISTIC synthetic spans relation derived
    # from the documents table in BOTH engines (1-3 spans per doc >40
    # chars, arithmetic offsets): pins the island-window union exactly
    docs = _t(spark, sf, "documents")
    base = (docs.select("doc_id", F.length("text").alias("n_chars"))
            .filter("n_chars > 40"))
    spans = (base
             .select("doc_id", "n_chars",
                     F.explode(F.sequence(
                         F.lit(0), F.pmod(F.col("doc_id"), F.lit(3))))
                     .alias("j"))
             .select(F.col("doc_id").alias("id_a"),
                     F.col("doc_id").alias("id_b"),
                     F.pmod(F.col("doc_id") * 37 + F.col("j") * 53,
                            F.col("n_chars") - 20).cast("int")
                     .alias("start_a"),
                     F.pmod(F.col("doc_id") * 11 + F.col("j") * 29,
                            F.col("n_chars") - 20).cast("int")
                     .alias("start_b"),
                     (F.lit(10) + F.pmod(F.col("doc_id") + F.col("j"),
                                         F.lit(25))).cast("int")
                     .alias("length")))
    return D.span_coverage(docs, spans)


_SPAN_COV_SQL = """
WITH d AS (SELECT doc_id, length(text) AS n_chars FROM documents),
gen AS (
  SELECT doc_id, n_chars, unnest(range(0, (doc_id % 3) + 1)) AS j
  FROM d WHERE n_chars > 40
), sp AS (
  SELECT doc_id,
         (doc_id * 37 + j * 53) % (n_chars - 20) AS start_a,
         (doc_id * 11 + j * 29) % (n_chars - 20) AS start_b,
         10 + (doc_id + j) % 25 AS len
  FROM gen
), sides AS (
  SELECT doc_id AS id, start_a AS s, start_a + len AS e FROM sp
  UNION ALL
  SELECT doc_id, start_b, start_b + len FROM sp
), w AS (
  SELECT id, s, e,
         max(e) OVER (PARTITION BY id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM sides
), isl AS (
  SELECT id, s, e,
         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM w
), cov AS (
  SELECT id, island, max(e) - min(s) AS ext FROM isl GROUP BY id, island
), per_doc AS (SELECT id, sum(ext) AS dup_chars FROM cov GROUP BY id)
SELECT d.doc_id AS id, d.n_chars,
       CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CASE WHEN d.n_chars = 0 THEN 0.0
            ELSE round(coalesce(p.dup_chars, 0) * 1.0 / d.n_chars
                       + 1e-9, 4) END AS dup_fraction
FROM d LEFT JOIN per_doc p ON p.id = d.doc_id
"""


def _tfidf_keywords_q(spark, sf):
    # top-3 distinctive terms per doc under smoothed TF-IDF
    # (operators/retrieval.py:tfidf_keywords — shares bm25_index); rank
    # on the ROUNDED score in both engines (driver-contract rule)
    return R.tfidf_keywords(_t(spark, sf, "documents"), k=3)


_TFIDF_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
    FROM base WHERE len(toks) > 0)
  GROUP BY doc_id, dl, term
), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (SELECT count(*) AS n_docs FROM base WHERE len(toks) > 0),
scored AS (
  SELECT doc_id, term,
         round((tf * 1.0 / dl) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
               + 1e-9, 4) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term) AS INT) AS rank
FROM scored QUALIFY rank <= 3
"""


def _dedup_paragraphs_q(spark, sf):
    # CCNet corpus-wide line dedup (operators/dedup.py:dedup_paragraphs,
    # r8 VERDICT ask #1: exchanges hash-keyed on xxhash64(line)). The
    # synthetic documents are single-line word soup, so BOTH engines
    # first derive deterministic 3-word lines (the ~31-word vocabulary
    # guarantees cross-document duplicate lines); the oracle keys its
    # first-occurrence window on the 48-bit md5-prefix hash — the proven
    # cross-engine hash-keyed formulation (text_fingerprint discipline).
    docs = _t(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # bind the token array ONCE via the single-element aggregate (the
    # gram_hash_arr trick, r10): Catalyst does not hoist common
    # subexpressions out of HOF lambdas, so referencing `toks` inside the
    # per-line slice re-split the document per output line — O(L²) per doc.
    # Same output, one tokenization per doc.
    lined = F.aggregate(
        F.array(toks), F.lit(None).cast("string"),
        lambda _, t: F.array_join(
            F.transform(
                F.sequence(F.lit(0),
                           F.ceil(F.size(t) / F.lit(3)).cast("int") - 1),
                lambda i: F.array_join(F.slice(t, i * 3 + 1, 3), " ")),
            "\n"))
    out = D.dedup_paragraphs(
        docs.select("doc_id", lined.alias("text")))
    return out.select("doc_id", "text", "n_lines", "n_removed_lines",
                      "removed_chars", "was_rewritten", "content_sha256")


_DEDUP_PARA_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN ['']
              ELSE regexp_split_to_array(trim(text), '\s+') END AS t
  FROM documents
), lined AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(t) / 3.0) AS INT)),
                        i -> array_to_string(t[i*3+1 : i*3+3], ' ')) AS ls
  FROM tk
), ex AS (
  SELECT doc_id, i - 1 AS idx, ls[i] AS line
  FROM lined, UNNEST(range(1, len(ls) + 1)) AS u(i)
), marked AS (
  SELECT doc_id, idx, line,
         CASE WHEN length(trim(line)) < 1 THEN TRUE
              WHEN row_number() OVER (
                   PARTITION BY CAST('0x' || substr(md5(line), 1, 12)
                                     AS BIGINT)
                   ORDER BY doc_id, idx) = 1 THEN TRUE
              ELSE FALSE END AS keep
  FROM ex
), agg AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                             ORDER BY idx), '') AS new_text,
         CAST(count(*) AS INT) AS n_lines,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT)
           AS n_removed_lines
  FROM marked GROUP BY doc_id
)
SELECT l.doc_id, a.new_text AS text, a.n_lines, a.n_removed_lines,
       CAST(length(l.orig) - length(a.new_text) AS INT) AS removed_chars,
       a.n_removed_lines > 0 AS was_rewritten,
       sha256(a.new_text) AS content_sha256
FROM (SELECT doc_id, array_to_string(ls, chr(10)) AS orig FROM lined) l
JOIN agg a USING (doc_id)
"""


def _bigram_logprob_q(spark, sf):
    # Jelinek-Mercer interpolated bigram LM (operators/lm.py:
    # bigram_logprob) — the order-sensitive CCNet-style quality signal;
    # exact formula parity (lam=0.7 default) with the DuckDB twin.
    return LM.bigram_logprob(_t(spark, sf, "documents"))


_BIGRAM_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\s+') END AS t
  FROM documents
), per_doc AS (
  SELECT doc_id, w1, w2, count(*) AS cnt FROM (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2
    FROM tk, UNNEST(range(1, len(t))) AS u(i)
    WHERE len(t) >= 2)
  GROUP BY doc_id, w1, w2
), bi AS (SELECT w1, w2, sum(cnt) AS c12 FROM per_doc GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c12) AS c1 FROM bi GROUP BY w1),
uni AS (SELECT w2, sum(cnt) AS cu FROM per_doc GROUP BY w2),
tot AS (SELECT sum(cu) AS total FROM uni)
SELECT doc_id, CAST(sum(cnt) AS INT) AS n_bigrams,
       round(sum(cnt * log10(0.7 * c12 / c1 + 0.3 * cu / total))
             / sum(cnt) + 1e-9, 4) AS avg_logprob
FROM per_doc JOIN bi USING (w1, w2) JOIN ctx USING (w1)
     JOIN uni USING (w2) CROSS JOIN tot
GROUP BY doc_id
"""


def _edge_pmi_q(spark, sf):
    # PMI/NPMI edge confidence (operators/graph.py:edge_pmi, Church &
    # Hanks 1990) over the (supplier → part) co-occurrence edges of
    # lineitem — partsupp gives each part ~4 suppliers, so pair counts
    # n > 1 exercise the full formula, not just the n=1 branch.
    li = _t(spark, sf, "lineitem")
    edges = li.select(F.col("l_suppkey").cast("string").alias("src"),
                      F.col("l_partkey").cast("string").alias("dst"))
    from smart_pdf_md_spark.operators.graph import edge_pmi
    return edge_pmi(edges)


_EDGE_PMI_SQL = """
WITH pair AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS src,
         CAST(l_partkey AS VARCHAR) AS dst, count(*) AS n
  FROM lineitem GROUP BY 1, 2
), s AS (SELECT src, sum(n) AS n_src FROM pair GROUP BY src),
d AS (SELECT dst, sum(n) AS n_dst FROM pair GROUP BY dst),
t AS (SELECT sum(n) AS n_tot FROM pair)
SELECT src, dst, n,
       round(ln((n * n_tot * 1.0) / (n_src * n_dst)) + 1e-9, 4) AS pmi,
       round(CASE WHEN n = n_tot THEN 1.0
             ELSE ln((n * n_tot * 1.0) / (n_src * n_dst))
                  / -ln(n * 1.0 / n_tot) END + 1e-9, 4) AS npmi
FROM pair JOIN s USING (src) JOIN d USING (dst) CROSS JOIN t
"""


# A row rotated off the board takes its builder and SQL with it, and an
# operator that no remaining row nor any pipeline reaches goes too.
# tests/test_entry_reachability.py fails on any function, class or
# _*_SQL constant that no entry point reaches.
_PAIRS: dict[str, tuple[Callable, str | None]] = {
    "q1_pricing_summary": (_q1_pricing, _Q1_SQL),
    "s1_scan_project": (_s1_scan_project, _S1_SQL),
    "s3_lang_filter": (_s3_lang_filter, _S3_SQL),
    "p1_textual_predicate": (_p1_textual, _P1_SQL),
    "p2_routing": (_p2_routing, _P2_SQL),
    "j1_broadcast_join": (_j1_broadcast, _J1_SQL),
    "j4_anti_join": (_j4_anti, _J4_SQL),
    "w1_topk_per_group": (_w1_topk, _W1_SQL),
    "w3_sessionize": (_w3_sessionize, _W3_SQL),
    "agg_cube": (_agg_cube, _CUBE_SQL),
    "agg_median_percentile": (_agg_median, _MEDIAN_SQL),
    "j5b_salted_agg": (_j5b_salted_agg, _J5B_SQL),
    "t1_grouped_zscore": (_t1_grouped_zscore, _T1_SQL),
    "dedup_exact": (_dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (_dedup_jaccard, _DEDUP_JACCARD_SQL),
    "dedup_embedding_cosine": (_dedup_cosine, _DEDUP_COSINE_SQL),
    "ann_topk_bruteforce": (_ann_topk, _ANN_SQL),
    "text_token_count": (_text_tokens, _TOKENS_SQL),
    "text_chunking": (_text_chunking, _CHUNK_SQL),
    "text_quality_score": (_text_quality, _QUALITY_SQL),
    "text_fingerprint": (_text_fingerprint, _FINGERPRINT_SQL),
    "mm_media_meta": (_mm_meta, _MM_META_SQL),
    # rows-only (no SQL oracle): KG pipeline + approximate operators
    "kg_entities": (_kg_entities, None),
    "kg_canonical_triples": (_kg_canonical_triples, None),
    "text_scrub": (_text_scrub, _SCRUB_SQL),
    "j7_asof_join": (_j7_asof_join, _J7_SQL),
    "g1_two_hop": (_g1_two_hop, _G1_SQL),
    "g2_degrees": (_g2_degrees, _G2_SQL),
    "kg_pagerank": (_kg_pagerank, None),
    "dedup_minhash_lsh": (_dedup_minhash, None),
    # r4 board rotation (r3 VERDICT next-round #1): the 50-slot cap forces
    # swaps, not appends — w2_running_sum (window machinery pinned by w1/w3),
    # mm_frame_sample (multimodal scan path pinned by mm_media_meta) and
    # dedup_simhash rotate OFF (SimHash and frame sampling were later
    # deleted: no entry point reached them); the three r3 operators the
    # board never swept rotate ON.
    "j8_range_join": (_j8_range_join, _J8_SQL),
    "mean_pool": (_mean_pool, _MEAN_POOL_SQL),
    "ann_topk_ivf": (_ann_ivf, None),
    # r5 board rotation (r4 VERDICT next-round #2/#7) — the 50-slot cap
    # forces swaps: s2_single_file OFF (the scan path is pinned by
    # s1+s4/s5), j6_full_outer OFF (the join machinery is exercised by the
    # P/R gate and g2's full outer), text_lang_id OFF (same expression
    # family as text_quality_score), kg_two_hop_calls OFF (two-hop pinned
    # by the g1 oracle pair; the KG pipeline by kg_entities/
    # kg_canonical_triples/kg_pagerank). The four r4/r5 operators the board
    # never swept rotate ON.
    "repetition_stats": (_repetition_stats, _REPETITION_SQL),
    "triangle_count": (_triangle_count, _TRIANGLE_SQL),
    "curation_chunks": (_curation_chunks, None),
    # r6 board rotation (r5 VERDICT next-round #1/#2) — the 50-slot cap
    # forces swaps: f2_string_funcs OFF (scalar-function machinery pinned
    # by f1 + the text_* oracle pairs), events_tumbling_window OFF (the
    # window/agg family is pinned by w1/w3; the streaming window helpers
    # were later deleted), mm_extract_features OFF (the multimodal path is
    # pinned by the mm_media_meta oracle pair; extract_features was later
    # deleted). IN: the three r5 operators whose
    # DuckDB parity SQL already existed in tests — now full oracle rows.
    "bm25_topk": (_bm25_topk_q, _BM25_SQL),
    "decontaminate": (_decontaminate_q, _DECONTAM_SQL),
    "adaptive_quality_filter": (_adaptive_quality_q, _ADAPTIVE_SQL),
    # r7 board rotation (r6 VERDICT next-round #2/#3/#7) — the 50-slot cap
    # forces swaps. OFF: a3_lang_stats (the lang expression family is
    # pinned by text_quality_score + s3's lang filter), s4_include_glob /
    # s5_exclude_glob (glob semantics stay pinned by
    # test_pipeline_pr.py::test_include_exclude_globs; the scan path by
    # s1), ann_topk_lsh (the hyperplane-LSH operator was later deleted;
    # IVF + PQ carry the ANN rows-only slots), and
    # dedup_clusters (exact CC tests + the kg_canonical_triples row pin
    # the clustering machinery). ON: the three round-6 operators whose
    # DuckDB parity SQL already existed in tests — now full oracle rows —
    # plus the PQ and mergeable-sketch paths as rows-only driver rows.
    "unigram_logprob": (_unigram_logprob_q, _UNIGRAM_SQL),
    "ngram_novelty": (_ngram_novelty_q, _NOVELTY_SQL),
    "cap_per_group": (_cap_per_group_q, _CAP_SQL),
    "ann_topk_pq": (_ann_pq, None),
    "hll_documents": (_hll_documents, None),
    # r8 board rotation (r7 VERDICT next-round #4) — the 50-slot cap
    # forces swaps. OFF three long-pinned trivial rows, each with a
    # sibling still on board: f1_json_extract (scalar-function machinery
    # pinned by the text_* oracle pairs + f2 pytest), a2_first_error (the
    # run-summary family pinned by a1_run_summary + the status-taxonomy
    # tests), j5_semi_join (the skew family pinned by j5b_salted_agg; its
    # builder, kept as a plan pin, was later deleted). ON: the three
    # round-7 operators whose
    # DuckDB parity SQL already existed in tests — now full oracle rows.
    "oov_rate": (_oov_rate_q, _OOV_SQL),
    "span_coverage": (_span_coverage_q, _SPAN_COV_SQL),
    "tfidf_keywords": (_tfidf_keywords_q, _TFIDF_SQL),
    # r9 board rotation (r8 VERDICT next-round #2) — the 50-slot cap
    # forces swaps. OFF three long-green trivial rows, each pinned
    # elsewhere: a1_run_summary (8-round green; the run-summary family is
    # pinned by the status-taxonomy + manifest tests), set_union_except
    # (set-op machinery pinned by agg_cube + the r1-board-green history),
    # agg_rollup (grouping-set family pinned by agg_cube, still on
    # board). ON: the three round-8 operators whose DuckDB parity SQL
    # already existed in tests — now full oracle rows. dedup_paragraphs
    # lands AFTER its exchanges were hash-keyed (ask #1).
    "dedup_paragraphs": (_dedup_paragraphs_q, _DEDUP_PARA_SQL),
    "bigram_logprob": (_bigram_logprob_q, _BIGRAM_SQL),
    "edge_pmi": (_edge_pmi_q, _EDGE_PMI_SQL),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _PAIRS.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _PAIRS.items() if sql is not None}
