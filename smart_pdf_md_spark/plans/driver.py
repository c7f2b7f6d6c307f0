"""Staged KG run: the full pipeline with per-stage commits + resume.

The target lifecycle (SURVEY.md §3.3): one lazy DAG per stage, control
returning to the driver at stage commits and, for the vocabulary-sized
stages, at the one vocabulary collect (or, above LOCAL_LINK_MAX_VOCAB
names, the CC fixpoint; see _VocabularyTail). Stage graph:

    mentions  ──► triples ──────────────► triples_canonical (final sink)
        │                                        ▲
        └──► edges ──► entities ─────────────────┘

Each stage is committed through plans/manifests.py; a killed-and-restarted
run resumes from the last committed stage (north_rule requirement), and the
mentions stage additionally supports file-level incremental append (J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cc import (
    canonical_triples,
    entity_table,
    local_entities,
    local_rewrite,
    rewrite_triples,
)
from ..operators.extract import FILE_MARKER, file_status, mentions_only
from ..operators.linking import (
    checkpointed_vocabulary,
    collect_vocabulary,
    link_edges,
    link_local,
)
from .manifests import (
    commit_stage,
    pending_inputs,
    read_stage,
    run_stage,
    stage_committed,
)
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
    tail = _VocabularyTail(mentions, link_threshold)
    # filled only if linking runs: a resumed stage leaves it empty
    edge_metrics: dict = {}
    edges, resumed["edges"] = run_stage(
        spark, run_dir, "edges", lambda: tail.edges(edge_metrics),
        ["name_a", "name_b"],
        deps=["mentions"],
    )
    _note("edges", edge_metrics)
    entities, resumed["entities"] = run_stage(
        spark, run_dir, "entities", lambda: tail.entities(edges),
        ["name", "canonical_name"],
        deps=["mentions", "edges"],
    )
    _note("entities")
    canonical, resumed["triples_canonical"] = run_stage(
        spark, run_dir, "triples_canonical",
        lambda: tail.canonical(triples, entities, edges),
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


class _VocabularyTail:
    """The vocabulary-sized stages of run_kg: edges → entities → the
    canonical rewrite of the triples.

    When the vocabulary fits on the driver (≤ LOCAL_LINK_MAX_VOCAB names,
    the one local/distributed decision) it is collected once, with no
    checkpoint, and every stage resolves from driver lists: `link_local`,
    union-find in `local_entities`, and one pass over the triples through
    one broadcast rewrite relation. Edges and entities then commit from
    pandas-backed frames in one write job each. Larger vocabularies take
    the distributed operators over one checkpointed vocabulary. The
    decision is taken by the first stage that rebuilds, so a fully resumed
    run collects nothing; a stage that rebuilds after a resumed one reads
    what it needs back from the committed stage."""

    def __init__(self, mentions: DataFrame, threshold: float):
        self.mentions, self.threshold = mentions, threshold
        self.spark = mentions.sparkSession
        self._decided = False
        self._names = self._ckpt = self._edges = self._entities = None

    def _vocabulary(self) -> list[str] | None:
        """The driver-held vocabulary; None on the distributed path."""
        if not self._decided:
            self._names = collect_vocabulary(self.mentions)
            self._decided = True
        return self._names

    def _checkpointed(self) -> DataFrame:
        if self._ckpt is None:
            self._ckpt = checkpointed_vocabulary(self.mentions)
        return self._ckpt

    def _edge_rows(self, edges: DataFrame) -> list[tuple]:
        if self._edges is None:  # the edges stage was resumed
            self._edges = edges.collect()
        return self._edges

    def edges(self, metrics: dict) -> DataFrame:
        names = self._vocabulary()
        if names is None:
            return link_edges(self.mentions, self.threshold,
                              names=self._checkpointed(), local_max_vocab=0,
                              metrics=metrics)
        self._edges, df = link_local(self.spark, names, self.threshold, metrics)
        return df

    def entities(self, edges: DataFrame) -> DataFrame:
        names = self._vocabulary()
        if names is None:
            return entity_table(self.mentions, edges, names=self._checkpointed())
        self._entities, df = local_entities(
            self.spark, names, [(a, b) for a, b, _ in self._edge_rows(edges)])
        return df

    def canonical(self, triples: DataFrame, entities: DataFrame,
                  edges: DataFrame) -> DataFrame:
        if self._vocabulary() is None:
            return canonical_triples(triples, entities, edges)
        if self._entities is None:  # the entities stage was resumed
            self._entities = entities.collect()
        return rewrite_triples(triples, local_rewrite(
            self.spark, self._entities, self._edge_rows(edges)))


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
    (committed mentions df, number of newly processed files). The pending
    anti-join and the extraction run once: the batch is cached, its
    per-file status rows are counted from the cache, and the commit writes
    from the cache (nothing is committed when no file is new)."""
    from ..sources.tables import with_identity

    inputs = with_identity(repo_files).select("repo", "path", "commit", "lang",
                                              "content", "file_id")
    committed = stage_committed(run_dir, "mentions")
    pending = pending_inputs(inputs, spark, run_dir, "mentions")
    new = build_mentions(spark, pending.drop("file_id"),
                         include, exclude, partitions=partitions).persist()
    try:
        n_new = new.filter(F.col("kind") == FILE_MARKER).count()
        if n_new == 0 and committed:
            return read_stage(spark, run_dir, "mentions"), 0
        out = commit_stage(new, run_dir, "mentions", MENTION_KEYS,
                           mode="append" if committed else "overwrite")
    finally:
        new.unpersist()
    return out, n_new
