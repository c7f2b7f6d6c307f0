"""Staged KG run: the full pipeline with per-stage commits + resume.

The target lifecycle (SURVEY.md §3.3): one lazy DAG per stage, control
returning to the driver only at stage commits and the CC fixpoint. Stage
graph:

    mentions  ──► triples ──────────────► triples_canonical (final sink)
        │                                        ▲
        └──► edges ──► entities ─────────────────┘

Each stage is committed through plans/manifests.py; a killed-and-restarted
run resumes from the last committed stage (north_rule requirement), and the
mentions stage additionally supports file-level incremental append (J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.cc import canonical_triples, entity_table
from ..operators.extract import file_status, mentions_only
from ..operators.linking import link_edges
from .manifests import commit_stage, pending_inputs, run_stage, stage_committed
from .pipeline import build_mentions, triples_from_mentions

MENTION_KEYS = ["file_id", "kind", "name", "line"]
TRIPLE_KEYS = ["subj", "pred", "obj"]


def run_kg(
    spark: SparkSession,
    repo_files: DataFrame,
    run_dir: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    link_threshold: float = 0.60,
    partitions: int | None = None,
    on_stage=None,
    forced_route: str | None = None,
    timeout_sec: float | None = None,
) -> dict:
    """Full resumable run. Returns stage DataFrames + resume flags.
    ``on_stage(stage, resumed, metrics=None)`` fires after each stage
    commit/resume — the S9 run-log hook (see runlog.JsonRunLog.stage_hook).
    The edges stage carries the linking hot-bucket drop counters
    (``dropped_buckets``/``dropped_band_rows``) in ``metrics``: a 100 TB
    operator's drop rate must reach the machine-readable log, not just
    stderr (r3 VERDICT #7). A resumed edges stage never re-linked, so it
    reports no counters.
    ``forced_route`` is the reference's ``-e/--engine`` (cli.py:105-137):
    force one extractor family; unknown values fail per file with rc 9.
    Colocated duplicate contents are extracted once by the per-partition
    extraction memo (operators/extract.py)."""
    resumed: dict[str, bool] = {}

    def _note(stage: str, metrics: dict | None = None) -> None:
        if on_stage is not None:
            if metrics:
                on_stage(stage, resumed[stage], metrics=metrics)
            else:
                on_stage(stage, resumed[stage])

    extracted, resumed["mentions"] = run_stage(
        spark, run_dir, "mentions",
        lambda: build_mentions(spark, repo_files, include, exclude,
                               forced_route=forced_route,
                               partitions=partitions,
                               timeout_sec=timeout_sec),
        MENTION_KEYS,
    )
    _note("mentions")
    mentions = mentions_only(extracted)

    triples, resumed["triples"] = run_stage(
        spark, run_dir, "triples",
        lambda: triples_from_mentions(mentions), TRIPLE_KEYS,
        deps=["mentions"],
    )
    _note("triples")
    # vocabulary computed at most once per run, shared by edges + entities
    # (each stage reads the committed mentions parquet, so extraction is
    # never recomputed; the vocab distinct is the only repeated scan)
    _names_cache: list = []

    def _names():
        if not _names_cache:
            from ..operators.linking import checkpointed_vocabulary
            _names_cache.append(checkpointed_vocabulary(mentions))
        return _names_cache[0]

    # filled only if linking runs: a resumed stage leaves it empty
    edge_metrics: dict = {}
    edges, resumed["edges"] = run_stage(
        spark, run_dir, "edges",
        lambda: link_edges(mentions, link_threshold, names=_names(),
                           metrics=edge_metrics),
        ["name_a", "name_b"],
        deps=["mentions"],
    )
    _note("edges", edge_metrics)
    entities, resumed["entities"] = run_stage(
        spark, run_dir, "entities",
        lambda: entity_table(mentions, edges, names=_names()),
        ["name", "canonical_name"],
        deps=["mentions", "edges"],
    )
    _note("entities")
    canonical, resumed["triples_canonical"] = run_stage(
        spark, run_dir, "triples_canonical",
        lambda: canonical_triples(triples, entities, edges),
        ["subj", "pred", "obj", "file_id"],
        deps=["triples", "entities", "edges"],
    )
    _note("triples_canonical")
    return {
        "extracted": extracted,
        "mentions": mentions,
        "status": file_status(extracted),
        "triples": triples,
        "edges": edges,
        "entities": entities,
        "triples_canonical": canonical,
        "resumed": resumed,
    }


def extract_incremental(
    spark: SparkSession,
    repo_files: DataFrame,
    run_dir: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """File-level incremental extraction (J4 anti-join resume).

    Appends mentions only for files not yet in the committed stage; returns
    (committed mentions df, number of newly processed files)."""
    from ..sources.tables import with_identity

    inputs = with_identity(repo_files).select("repo", "path", "commit", "lang",
                                              "content", "file_id")
    pending = pending_inputs(inputs, spark, run_dir, "mentions")
    n_pending = pending.count()
    if n_pending == 0 and stage_committed(run_dir, "mentions"):
        from .manifests import read_stage
        return read_stage(spark, run_dir, "mentions"), 0
    new = build_mentions(spark, pending.drop("file_id"),
                         include, exclude, partitions=partitions)
    mode = "append" if stage_committed(run_dir, "mentions") else "overwrite"
    committed = commit_stage(new, run_dir, "mentions", MENTION_KEYS, mode=mode)
    return committed, n_pending
