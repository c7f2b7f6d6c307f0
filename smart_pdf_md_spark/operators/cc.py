"""Connected components by iterative DataFrame joins (J3) + entity table.

GraphFrames is not installed (verified, SURVEY.md §2.3 J3), so this is the
classic label-propagation-to-minimum formulation (the "small-star"-style
min-label iteration of Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014; the driver-local fast path is textbook union-find,
Tarjan 1975): every node's label
converges to the lexicographically smallest node id in its component. The
distributed fixpoint returns control to the driver once per round (the
fixpoint count — SURVEY.md §3.3); each round is checkpointed to cut
lineage, otherwise the plan would grow by two joins per iteration.

Canonical triples come from one rewrite, `rewrite_triples`: one pass over
the triples through one broadcast name → (canonical_name, entity_id, conf)
relation, built by `canonical_triples` from the entities and edges frames
or, for a driver-held vocabulary (plans/driver.run_kg, at most
`linking.LOCAL_LINK_MAX_VOCAB` names), by `local_rewrite` from driver rows,
next to the union-find entity rows of `local_entities`.

Determinism: labels are min() over strings — independent of partitioning,
join order, and parallelism. Entity IDs derive from the canonical (minimum)
name, never from monotonically_increasing_id(), so IDs are identical at N
and 4N parallelism (the scaling gate).

Convergence: label propagation to min needs O(diameter) rounds. Entity-link
components are tiny (name-variant clusters), so 2-4 rounds; `max_iter`
guards against adversarial chains, and hitting it raises rather than
silently emitting half-merged entities.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# Edge sets at or below this size resolve on the driver via union-find (one
# collect instead of O(diameter) shuffle rounds); larger sets iterate
# distributed. Entity-link edge sets are vocabulary-bounded, so at any
# corpus size the distributed path only engages for genuinely huge vocabs.
LOCAL_CC_MAX_EDGES = 200_000


def _cc_local(pairs) -> list[tuple[str, str]]:
    """Union-find over (a, b) pairs with component label = lexicographic min
    node (identical to the distributed fixpoint's converged state by
    definition)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by label order keeps the min name at the root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return sorted((n, find(n)) for n in parent)


def connected_components(edges: DataFrame, max_iter: int = 25,
                         local_max_edges: int = LOCAL_CC_MAX_EDGES) -> DataFrame:
    """edges(name_a, name_b) → (name, component) with component = min name.

    Min-label propagation converges in O(diameter) rounds — the right trade
    for entity-variant graphs, whose components are tiny star-ish clusters
    (diameter ≤ 3 in practice). For adversarial long-chain graphs the
    O(log n)-round alternative is large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014); not needed
    for this workload and deliberately not implemented.

    Isolated nodes are the caller's concern (left-join the result and
    coalesce to the node itself) — keeps the iteration state minimal.
    Set ``local_max_edges=0`` to force the distributed fixpoint (parity
    pinned by `test_linking_scale.py::test_local_and_distributed_paths_agree`).
    """
    edges = edges.select("name_a", "name_b")
    probed = False
    if local_max_edges:
        # persist across the probe: without it, a big edge set pays the full
        # linking lineage TWICE — once for the limit-collect, once when the
        # distributed fixpoint re-reads edges (ADVICE r2). Columnar persist,
        # pruned to the two key columns, released as soon as `sym` is
        # checkpointed (or immediately on the local path).
        edges = edges.persist()
        probed = True
        head = edges.limit(local_max_edges + 1).collect()
        if len(head) <= local_max_edges:
            spark = edges.sparkSession
            edges.unpersist()
            labels = _cc_local(head)
            schema = "name string, component string"
            if not labels:
                return spark.createDataFrame([], schema)
            return spark.createDataFrame(labels, schema)
    # iteration state is edge/vocabulary-sized: keep its partition count
    # proportional (empty 32-way partitions would pay per-task overhead on
    # every one of the O(diameter) rounds)
    p = max(edges.sparkSession.sparkContext.defaultParallelism // 4, 1)
    sym = edges.select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    ).union(
        edges.select(F.col("name_b").alias("src"), F.col("name_a").alias("dst"))
    ).distinct()
    sym = sym.coalesce(p).localCheckpoint(eager=True)
    if probed:
        edges.unpersist()  # sym is materialized; the probe cache is done

    labels = (
        sym.select(F.col("src").alias("name"))
        .distinct()
        .withColumn("component", F.col("name"))
        .coalesce(p)
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # min label among neighbors
        neighbor_min = (
            sym.join(labels, sym.src == labels.name)
            .groupBy(F.col("dst").alias("name"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "name", "left")
            .select(
                "name",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("changed"),
            )
        ).coalesce(p).localCheckpoint(eager=True)  # cut lineage; one action per round
        n_changed = new_labels.filter(F.col("changed") == True).count()  # noqa: E712
        labels = new_labels.drop("changed")
        if n_changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def entity_table(mentions: DataFrame, edges: DataFrame,
                 names: DataFrame | None = None) -> DataFrame:
    """→ entities(name, canonical_name, entity_id, component_size).

    Every vocabulary name appears exactly once; singletons canonicalize to
    themselves. entity_id = sha256(canonical_name) prefix — content-derived,
    stable across runs and parallelism levels. Pass the same checkpointed
    vocabulary given to link_edges to avoid recomputing the extraction.
    """
    from .linking import checkpointed_vocabulary

    vocab = names if names is not None else checkpointed_vocabulary(mentions)
    comps = connected_components(edges)
    return (
        vocab.join(comps, "name", "left")
        .select(
            "name",
            F.coalesce(F.col("component"), F.col("name")).alias("canonical_name"),
        )
        .withColumn("entity_id", F.substring(F.sha2(F.col("canonical_name"), 256), 1, 16))
        .withColumn(
            "component_size",
            F.count("*").over(Window.partitionBy("canonical_name")),
        )
    )


def canonical_triples(triples: DataFrame, entities: DataFrame,
                      edges: DataFrame | None = None) -> DataFrame:
    """Rewrite symbol objects (and CALLS subjects) to canonical entity names:
    `rewrite_triples` through the name → (canonical_name, entity_id, conf)
    relation of ``entities``. `conf` when `edges` is given: 1.0 for names
    already canonical; the cosine of the direct (raw, canonical) linking
    edge when one exists; 0.9 for transitive merges (linked through a third
    variant — confident but unscored); rounded HALF_UP to 4 places. Without
    `edges` every triple keeps its own conf."""
    rel = entities.select("name", "canonical_name", "entity_id")
    if edges is None:
        return rewrite_triples(triples, rel.withColumn(
            "conf", F.lit(None).cast("double")))
    # edges hold name_a < name_b and a canonical name is its component's
    # minimum, so a name's direct edge is (canonical_name, name)
    direct = edges.select(F.col("name_b").alias("name"),
                          F.col("name_a").alias("canonical_name"), "cos")
    conf = F.when(F.col("name") == F.col("canonical_name"), F.lit(1.0)) \
        .otherwise(F.coalesce(F.col("cos"), F.lit(0.9)))
    return rewrite_triples(triples, rel.join(
        direct, ["name", "canonical_name"], "left").select(
        "name", "canonical_name", "entity_id", F.round(conf, 4).alias("conf")))


_ENTITY_SCHEMA = ("name string, canonical_name string, entity_id string, "
                  "component_size bigint")


def local_entities(spark: SparkSession, names: list[str],
                   pairs) -> tuple[list[tuple], DataFrame]:
    """Driver-side `entity_table` for a driver-held vocabulary and its edge
    (a, b) pairs: → (entity rows, pandas-backed entities frame), rows and
    frame as (name, canonical_name, entity_id, component_size)."""
    comp = dict(_cc_local(pairs))
    canon = {n: comp.get(n, n) for n in names}
    size = Counter(canon.values())
    ids = {c: hashlib.sha256(c.encode("utf-8")).hexdigest()[:16] for c in size}
    rows = [(n, c, ids[c], size[c]) for n, c in canon.items()]
    return rows, spark.createDataFrame(
        pd.DataFrame(rows, columns=["name", "canonical_name", "entity_id",
                                    "component_size"]),
        schema=_ENTITY_SCHEMA)


def local_rewrite(spark: SparkSession, entities: list[tuple],
                  edges: list[tuple]) -> DataFrame:
    """The rewrite relation name → (canonical_name, entity_id, conf) of
    driver-held entity rows and (name_a, name_b, cos) edges, with
    `canonical_triples`' conf rule, rounded by Spark (HALF_UP, as
    `canonical_triples` rounds; Python's round is half-to-even)."""
    cos = {(b, a): c for a, b, c in edges}  # keyed (name, canonical_name)
    rows = [(n, c, e, 1.0 if n == c else cos.get((n, c), 0.9))
            for n, c, e, _ in entities]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["name", "canonical_name", "entity_id",
                                    "score"]),
        schema="name string, canonical_name string, entity_id string, "
               "score double")
    return df.select("name", "canonical_name", "entity_id",
                     F.round("score", 4).alias("conf"))


def rewrite_triples(triples: DataFrame, rewrite: DataFrame) -> DataFrame:
    """Canonicalize `triples` in one pass: the broadcast `rewrite` relation
    name → (canonical_name, entity_id, conf) is joined once for the object
    and once for the CALLS subject. IMPORTS objects are modules, not
    symbols: those rows keep their object and conf, with the object's own
    hash as entity_id. Other objects missing from `rewrite` keep themselves,
    and a null relation conf keeps the triple's own. Module-level calls
    carry a file-ref subj, which never matches the symbol vocabulary and
    stays as it is."""
    obj_rw = F.broadcast(rewrite.select(
        F.col("name").alias("obj"), F.col("canonical_name").alias("_obj_canon"),
        F.col("entity_id").alias("_obj_eid"), F.col("conf").alias("_obj_conf")))
    subj_rw = F.broadcast(rewrite.select(
        F.col("name").alias("subj"),
        F.col("canonical_name").alias("_subj_canon")))
    imports = F.col("pred") == "IMPORTS"
    own_id = F.substring(F.sha2(F.col("obj"), 256), 1, 16)
    return (
        triples.join(obj_rw, "obj", "left").join(subj_rw, "subj", "left")
        .select(
            F.when(F.col("pred") == "CALLS",
                   F.coalesce(F.col("_subj_canon"), F.col("subj")))
            .otherwise(F.col("subj")).alias("subj"),
            F.col("obj").alias("obj_raw"),
            F.when(imports, F.col("obj"))
            .otherwise(F.coalesce(F.col("_obj_canon"), F.col("obj")))
            .alias("obj"),
            "pred",
            F.when(imports, own_id)
            .otherwise(F.coalesce(F.col("_obj_eid"), own_id)).alias("entity_id"),
            "file_id", "repo", "content_sha256",
            F.when(imports, F.col("conf"))
            .otherwise(F.coalesce(F.col("_obj_conf"), F.col("conf")))
            .alias("conf"),
        )
        .distinct()
    )
