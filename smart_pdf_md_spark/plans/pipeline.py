"""End-to-end KG-construction plan.

The reference's whole execution engine is a sequential for-loop
(scan → filter → route → convert → write → summarize,
/root/reference/src/smart_pdf_md/cli.py:596-613). Here it is ONE lazy
DataFrame DAG (SURVEY.md §3.3):

    repo_files → identity cols → include/exclude globs → routing
      → [partitions=n: repartition(xxhash64(file_id))]  # skew spread (J5)
      → mapInArrow extraction                 # engine layer, Arrow-batched
      → triple materialization (pure Column exprs, codegen'd)
      → [linking + canonicalization, operators/linking.py + cc.py]
      → sink

Only `content_sha256` survives past extraction; `content` is pruned inside
the Arrow stage (never shuffled). The run summary (A1/A2) is a single agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_mentions, file_status, mentions_only
from ..operators.routing import route_col, textuality_cols
from ..sources.tables import path_filter, with_identity


def triples_from_mentions(mentions: DataFrame, distinct: bool = True) -> DataFrame:
    """Mention rows → (subj, pred, obj) with lineage. Pure Column exprs —
    whole-stage codegen, no Python. Mapping per functions/patterns.triple_for:
    (file, IMPORTS, module) · (repo, DEFINES, symbol) ·
    (enclosing-symbol | file, CALLS, symbol) · (file, MENTIONS, entity).
    CALLS is symbol→symbol (north_star) so the edge set composes under
    self-joins; only module-level calls fall back to the file ref."""
    file_ref = F.concat_ws("/", F.col("repo"), F.col("path"))
    subj = (
        F.when(F.col("kind") == "def", F.col("repo"))
        .when(
            (F.col("kind") == "call") & (F.col("enclosing") != ""),
            F.col("enclosing"),  # symbol-space: (symbol, CALLS, symbol)
        )
        .otherwise(file_ref)
    )
    pred = (
        F.when(F.col("kind") == "import", F.lit("IMPORTS"))
        .when(F.col("kind") == "def", F.lit("DEFINES"))
        .when(F.col("kind") == "call", F.lit("CALLS"))
        .otherwise(F.lit("MENTIONS"))
    )
    out = mentions.select(
        subj.alias("subj"),
        pred.alias("pred"),
        F.col("name").alias("obj"),
        F.col("file_id"),
        F.col("repo"),
        F.col("content_sha256"),
        F.lit(1.0).alias("conf"),
        F.col("mention_id"),
    )
    # deterministic exact dedup (a file can mention the same fact on many
    # lines): group on the fact key and keep the MIN mention_id as lineage —
    # same shuffle as distinct, parallelism-invariant, and a consumer can
    # still join back to the originating mention row (span/line highlight).
    # run_kg keeps this dedup, so its committed `triples` stage is distinct
    # on the fact key; distinct=False skips the shuffle for a caller whose
    # consumer dedups anyway (the benchmark scripts feeding canonical_triples).
    if not distinct:
        return out
    keys = ["subj", "pred", "obj", "file_id", "repo", "content_sha256", "conf"]
    # min over the NUMERIC form of the id, not the string: min(string) has
    # no fixed-width agg buffer and demotes the whole aggregate to
    # SortAggregate (two sorts around the exchange); min(decimal) keeps
    # HashAggregate, and for fixed-length hex the orders are identical.
    mid_num = F.conv(F.col("mention_id"), 16, 10).cast("decimal(20,0)")
    return (
        out.groupBy(*keys).agg(F.min(mid_num).alias("_mid"))
        .withColumn("mention_id",
                    F.lower(F.lpad(F.conv(F.col("_mid").cast("string"),
                                          10, 16), 16, "0")))
        .drop("_mid")
    )


def run_summary(status: DataFrame) -> DataFrame:
    """A1/A2: totals + failures + worst rc. The reference reports the FIRST
    non-zero rc in scan order (cli.py:609-612) — scan order does not exist on
    a cluster, so the deterministic equivalent is min_by over the stable sort
    key (repo, path)."""
    return status.agg(
        F.count("*").alias("total"),
        F.coalesce(F.sum(F.when(F.col("rc") != 0, 1).otherwise(0)),
                   F.lit(0)).alias("failures"),
        F.coalesce(
            F.min_by(
                F.when(F.col("rc") != 0, F.col("rc")),
                F.when(F.col("rc") != 0, F.concat_ws("/", "repo", "path")),
            ),
            F.lit(0),
        ).alias("first_nonzero_rc"),
    )


def build_mentions(
    spark: SparkSession,
    repo_files: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    forced_route: str | None = None,
    partitions: int | None = None,
    timeout_sec: float | None = None,
) -> DataFrame:
    """repo_files → extracted (mentions + status rows, union'd).

    Skew note (J5, deliberate): extraction is a per-file map, and parquet
    scan splits are BYTE-balanced (`spark.sql.files.maxPartitionBytes`)
    regardless of repo skew — a mega-repo cannot pin a task here, so the
    default plan runs extraction scan-side with NO shuffle: `content` never
    crosses the wire at all (at 100 TB that shuffle would dominate the job).
    `partitions=n` adds a defensive `repartition(n, xxhash64(file_id))`
    for non-splittable/skewed source layouts (e.g. one row group per
    mega-repo); hash-of-file-id spreads uniformly no matter how skewed the
    repo distribution is. Key-skew handling for the shuffling stages lives
    where the shuffles are: linking bucket caps (operators/linking.py) and
    AQE skew-join splitting (session.py).
    """
    df = with_identity(repo_files)
    df = path_filter(df, include, exclude)
    df = textuality_cols(df)
    df = route_col(df, forced_route)
    if partitions:
        # extraction cost varies per file (giant files, AST vs regex), so
        # finer tasks smooth stragglers — the partition-level analogue of
        # the reference's adaptive slice sizing (core.py:1055-1066)
        df = df.repartition(partitions, F.xxhash64("file_id"))
    df = df.select("file_id", "repo", "path", "commit", "lang",
                   "content_sha256", "route", "content")
    return extract_mentions(df, timeout_sec=timeout_sec)


def build_triples(
    spark: SparkSession,
    repo_files: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    forced_route: str | None = None,
    partitions: int | None = None,
) -> dict[str, DataFrame]:
    """Full plan; returns the interesting intermediate DataFrames (all lazy)."""
    extracted = build_mentions(spark, repo_files, include, exclude,
                               forced_route, partitions)
    mentions = mentions_only(extracted)
    status = file_status(extracted)
    triples = triples_from_mentions(mentions)
    return {
        "extracted": extracted,
        "mentions": mentions,
        "status": status,
        "triples": triples,
        "summary": run_summary(status),
    }


def register_kg_views(spark: SparkSession, plan: dict,
                      prefix: str = "") -> list[str]:
    """Expose every DataFrame in a build_triples()/run_kg() result dict as a
    temp view (`<prefix><stage>`), so the whole KG is queryable through
    plain ``spark.sql`` — the SQL half of the DataFrame/SQL surface. Views
    are lazy plan aliases: Catalyst optimizes through them exactly as it
    does the DataFrames (predicate pushdown into the committed parquet,
    broadcast of the entity dim, ...). Returns the registered names."""
    names = []
    for stage, df in plan.items():
        if isinstance(df, DataFrame):
            name = f"{prefix}{stage}"
            df.createOrReplaceTempView(name)
            names.append(name)
    return names
