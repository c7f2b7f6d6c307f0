"""Sources, identity columns, and glob path filters.

Reference analogues:
- `iter_input_files` recursive scan + sort (core.py:1091-1105) → a table scan;
  determinism comes from content-derived IDs, never from scan order.
- include/exclude fnmatch globs on relative path OR basename
  (core.py:1077-1088 `_pattern_match`) → `rlike` with `fnmatch.translate`,
  evaluated JVM-side so Catalyst can push them toward the scan.
- Iceberg is the target table format at 10^12-file scale (partition pruning,
  snapshot commits); the sandbox has no Iceberg jar, so the writer falls back
  to parquet + a JSON commit marker (same interface — see plans/manifests.py).
"""

from __future__ import annotations

import fnmatch
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

US = "\x1f"  # unit separator for composite-key hashing

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


REPO_FILES_DDL = ("repo string, path string, commit string, lang string, "
                  "content string")


def load_repo_files(spark: SparkSession, path: str,
                    fmt: str | None = None) -> DataFrame:
    """Read the repo_files corpus. Iceberg (`catalog.db.table` identifiers)
    when the runtime is on the classpath; file formats otherwise
    (parquet default; json/csv accepted with the schema pinned — never
    inferSchema in a pipeline, SURVEY §2.1 fixed-schema discipline)."""
    if not os.path.exists(path) and "/" not in path.rstrip("/"):
        try:
            return spark.read.table(path)
        except Exception:
            pass
    fmt = fmt or ("json" if path.endswith((".json", ".jsonl"))
                  else "csv" if path.endswith(".csv") else "parquet")
    if fmt == "json":
        return spark.read.schema(REPO_FILES_DDL).json(path)
    if fmt == "csv":
        return spark.read.schema(REPO_FILES_DDL).option("header", "true") \
            .option("multiLine", "true").option("escape", '"').csv(path)
    return spark.read.parquet(path)


def with_identity(df: DataFrame) -> DataFrame:
    """Derive the content-addressed identity columns.

    `content_sha256` is the lineage invariant (input_hint): computed once at
    ingest, carried through every stage, re-verified inside the extraction
    UDF and at the sink. `file_id` is a stable content-derived key — never
    `monotonically_increasing_id()`, which would differ across parallelism
    levels and break the scaling determinism gate.
    """
    return df.withColumn(
        "file_id",
        F.sha2(F.concat_ws(US, F.col("repo"), F.col("path"), F.col("commit")), 256),
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def _glob_to_java_regex(pat: str) -> str:
    # fnmatch.translate yields `(?s:...)\Z`; anchor the head for full-match
    # semantics under Java's unanchored rlike search.
    return "^" + fnmatch.translate(pat)


def path_filter(
    df: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    path_col: str = "path",
) -> DataFrame:
    """S4/S5 include/exclude glob filters.

    Reference semantics (core.py:1077-1088, 1095-1098): normalize to forward
    slashes; a pattern matches if it matches the relative path OR the
    basename; include keeps rows matching ANY pattern (only when non-empty);
    exclude then drops rows matching ANY pattern.
    """
    norm = F.regexp_replace(F.col(path_col), r"\\", "/")
    base = F.element_at(F.split(norm, "/"), -1)

    def any_match(patterns: list[str]):
        cond = F.lit(False)
        for p in patterns:
            rx = _glob_to_java_regex(p)
            cond = cond | norm.rlike(rx) | base.rlike(rx)
        return cond

    if include:
        df = df.filter(any_match(include))
    if exclude:
        df = df.filter(~any_match(exclude))
    return df


def write_triples(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by_pred: bool = False) -> None:
    """Primary sink (S6). Iceberg `writeTo(...).append()` on a real cluster;
    parquet in the sandbox. `partition_by_pred=True` lays the table out as
    pred=IMPORTS/... directories so downstream pred-filtered reads prune
    partitions (4 low-cardinality values → safe partitioning key)."""
    w = df.write.mode(mode)
    if partition_by_pred:
        w = w.partitionBy("pred")
    w.parquet(path)
