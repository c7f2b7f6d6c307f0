"""Candidate entity linking: char-ngram MinHash banding + TF-IDF cosine (J2).

Algorithms (public literature): MinHash resemblance sketching (Broder,
"On the resemblance and containment of documents", SEQUENCES 1997); banded
LSH for candidate generation (Leskovec/Rajaraman/Ullman, "Mining of Massive
Datasets", ch. 3); TF-IDF cosine rescoring is the standard IR weighting
(Salton & Buckley 1988).

No reference equivalent (the reference is single-table dataflow, SURVEY.md
§2.3) — mandated by the north_rule: "score candidate entity links with
char-ngram MinHash + TF-IDF cosine".

Scale design (the part that must survive 10^12 files):
- Linking runs over DISTINCT mention names, never over mentions — the
  vocabulary is orders of magnitude smaller than the mention stream, so the
  near-quadratic candidate stage is bounded by vocabulary size.
- MinHash signatures are computed in one Arrow-vectorized pandas UDF
  (numpy over the batch); banding turns the all-pairs problem into an
  equi-join on (band, hash) — a plain shuffle join Catalyst/AQE can split
  when skewed.
- Hot buckets (e.g. thousands of near-identical vendored names) are capped
  at MAX_BUCKET and dropped with a count — a documented bound, not a silent
  truncation.
- The TF-IDF cosine rescore is pure DataFrame algebra: explode name→ngram
  weights, join candidate pairs to the weight table twice, groupBy-sum the
  dot product. No Python in the loop; every step is a shuffle Catalyst can
  plan, and the weight table is tiny (vocabulary × ~12 ngrams).
- Everything is content-derived and set-based → byte-identical results at
  any parallelism (the scaling determinism gate, SURVEY.md §4.2 item 5).

ml.feature.MinHashLSH was considered and rejected (SURVEY.md §7 M3): the
dense-vector conversion at this row shape costs more than the hand-rolled
signature UDF and pins us to mllib's LSH parameterization.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PERM = 32          # minhash permutations
N_BANDS = 16         # bands of r = N_PERM // N_BANDS rows
MAX_BUCKET = 64      # bucket-size cap for the band self-join
NGRAM = 3
DEFAULT_COSINE_THRESHOLD = 0.60

_MERSENNE = (1 << 61) - 1
# deterministic permutation params (seeded, process-independent)
_rng = np.random.RandomState(42)
_A = _rng.randint(1, _MERSENNE, size=N_PERM, dtype=np.int64)
_B = _rng.randint(0, _MERSENNE, size=N_PERM, dtype=np.int64)


def _normalize(name: str) -> str:
    """Case + separator folding: snake/camel/Pascal/kebab variants of the
    same identifier normalize to the same string, so the char-ngram space
    measures the residual (true lexical) difference."""
    return name.replace("_", "").replace("-", "").lower()


def _ngrams(name: str) -> list[str]:
    s = f"^{_normalize(name)}$"
    if len(s) < NGRAM:
        return [s]
    return [s[i : i + NGRAM] for i in range(len(s) - NGRAM + 1)]


def _hash64(token: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "big"
    ) & ((1 << 61) - 1)


def _sig_np(name: str, cache: dict[str, int]) -> np.ndarray:
    """MinHash signature of one name (shared by the Arrow UDF and the
    driver-local fast path — ONE implementation, so the paths cannot
    drift)."""
    grams = _ngrams(name or "")
    hs = np.fromiter(
        (cache.setdefault(g, _hash64(g)) for g in grams),
        dtype=np.int64, count=len(grams),
    )
    # (len(grams), N_PERM) permuted hashes → column-min
    return ((hs[:, None] * _A[None, :] + _B[None, :]) % _MERSENNE).min(axis=0)


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sig(names: pd.Series) -> pd.Series:
    """Vectorized minhash: per batch, hash each distinct ngram once, then
    signature_i = min over the name's ngrams of (a_i·h + b_i) mod p."""
    cache: dict[str, int] = {}
    return pd.Series([_sig_np(name, cache).tolist() for name in names])


def name_vocabulary(mentions: DataFrame,
                    kinds: tuple[str, ...] = ("def", "call", "doc_entity")) -> DataFrame:
    """Distinct symbol names — the dedup-before-quadratic-stage discipline."""
    return (mentions.filter(F.col("kind").isin(*kinds))
            .select("name").distinct())


def _report_drops(drop_stats: dict[str, int], metrics: dict | None) -> None:
    """Record the hot-bucket drop counters in ``metrics`` and log a nonzero
    drop to stderr (both linking paths)."""
    if metrics is not None:
        metrics.update(drop_stats)
    if drop_stats["dropped_buckets"]:
        import sys
        print(f"[linking] dropped {drop_stats['dropped_buckets']} hot band "
              f"buckets ({drop_stats['dropped_band_rows']} band rows) over "
              f"MAX_BUCKET={MAX_BUCKET}", file=sys.stderr)


def candidate_pairs(names: DataFrame,
                    metrics: dict | None = None) -> DataFrame:
    """names(name) → candidate (name_a, name_b) via LSH banding self-join.

    Hot band buckets (> MAX_BUCKET members — vendored-duplicate pathology)
    are excluded from the self-join, and that exclusion is MATERIALIZED, not
    silent (ADVICE r1): the count of dropped buckets/rows is logged to stderr
    and recorded in `metrics` (keys `dropped_buckets`, `dropped_band_rows`),
    so a run where a name loses all its bands to hot buckets is observable
    and alertable."""
    r = N_PERM // N_BANDS
    sigs = names.withColumn("sig", _minhash_sig(F.col("name")))
    bands = sigs.select(
        "name",
        F.posexplode(
            F.array(*[
                F.slice(F.col("sig"), i * r + 1, r) for i in range(N_BANDS)
            ])
        ).alias("band", "band_sig"),
    ).withColumn("band_hash", F.xxhash64(F.col("band"), F.col("band_sig"))) \
     .drop("band_sig")
    # cap pathological buckets — bounded AND counted (never silent). The hot
    # set is tiny (≤ n_band_rows / MAX_BUCKET buckets), so collect it once
    # and anti-join against a local relation: one computation, no persist to
    # leak for the session lifetime (ADVICE r2), and the executed plan never
    # recomputes the bucket-size aggregation.
    bucket_sizes = bands.groupBy("band", "band_hash").agg(F.count("*").alias("bn"))
    hot_rows = bucket_sizes.filter(F.col("bn") > MAX_BUCKET).collect()
    drop_stats = {"dropped_buckets": len(hot_rows),
                  "dropped_band_rows": int(sum(r["bn"] for r in hot_rows))}
    _report_drops(drop_stats, metrics)
    if hot_rows:
        hot = names.sparkSession.createDataFrame(
            [(r["band"], r["band_hash"]) for r in hot_rows],
            "band int, band_hash bigint")
        bands = bands.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )


def ngram_tfidf(names: DataFrame) -> DataFrame:
    """names(name) → (name, gram, w) L2-normalized TF-IDF weights.

    Pure DataFrame: the ngram expansion is a Column expr (no UDF needed for
    3-grams via sequence+substring over the padded lowercase name)."""
    padded = F.concat(
        F.lit("^"),
        F.lower(F.translate(F.col("name"), "_-", "")),
        F.lit("$"),
    )
    df = names.withColumn("_p", padded).withColumn(
        "gram_list",
        F.expr(
            f"transform(sequence(1, greatest(length(_p) - {NGRAM - 1}, 1)),"
            f" i -> substring(_p, i, {NGRAM}))"
        ),
    )
    tf = (df.select("name", F.explode("gram_list").alias("gram"))
            .groupBy("name", "gram").agg(F.count("*").alias("tf")))
    # one scalar action: the IDF denominator (vocabulary size, tiny result)
    n_names = names.count()
    idf = (tf.groupBy("gram").agg(F.countDistinct("name").alias("df"))
             .withColumn("idf", F.log((F.lit(n_names) + 1.0) / (F.col("df") + 1.0)) + 1.0))
    w = tf.join(F.broadcast(idf), "gram").withColumn("w", F.col("tf") * F.col("idf"))
    norms = w.groupBy("name").agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("nrm"))
    return (w.join(norms, "name")
             .select("name", "gram", (F.col("w") / F.col("nrm")).alias("w")))


def score_pairs(pairs: DataFrame, weights: DataFrame,
                threshold: float = DEFAULT_COSINE_THRESHOLD) -> DataFrame:
    """TF-IDF cosine via join algebra → edges(name_a, name_b, cos ≥ threshold)."""
    wa = weights.select(F.col("name").alias("name_a"), "gram", F.col("w").alias("wa"))
    wb = weights.select(F.col("name").alias("name_b"), "gram", F.col("w").alias("wb"))
    dots = (
        pairs.join(wa, "name_a")
        .join(wb, ["name_b", "gram"])
        .groupBy("name_a", "name_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cos"))
    )
    return dots.filter(F.col("cos") >= threshold)


def checkpointed_vocabulary(mentions: DataFrame,
                            partitions: int | None = None) -> DataFrame:
    """Vocabulary distinct, coalesced + checkpointed.

    Two deliberate scale moves: (1) the distinct cuts the data volume from
    mention-stream to vocabulary size BEFORE any quadratic-ish work; (2) the
    localCheckpoint cuts lineage so the (expensive) extraction stage is never
    re-run by the several downstream consumers, and the coalesce keeps the
    checkpoint partition count proportional to the data (hundreds of
    vocabulary rows per partition, not 256 near-empty blocks whose per-task
    overhead dominates every rescan)."""
    spark = mentions.sparkSession
    p = partitions or max(spark.sparkContext.defaultParallelism // 4, 1)
    return name_vocabulary(mentions).coalesce(p).localCheckpoint(eager=True)


# Vocabularies at or below this size are linked on the driver in one pass
# (see link_edges); the banding cap bounds the pair set. The local pass is
# mostly pure-Python loops, not numpy: 15k names took 7.5 s on a 4-core
# host (the distributed path took 23.5 s there). Above this size the
# distributed path is mandatory.
LOCAL_LINK_MAX_VOCAB = 50_000


def _link_local(name_list: list[str],
                threshold: float) -> tuple[list[tuple], dict[str, int]]:
    """Driver-local mirror of candidate_pairs + ngram_tfidf + score_pairs.

    Same signature code (`_sig_np`), same banding, same MAX_BUCKET cap with
    the same drop accounting, same TF-IDF formula — the only difference is
    WHERE it runs. Parity with the distributed path is pinned by
    `test_linking_scale.py::test_local_and_distributed_paths_agree`."""
    import math
    from collections import Counter, defaultdict

    r = N_PERM // N_BANDS
    cache: dict[str, int] = {}
    buckets: dict[tuple, list[str]] = defaultdict(list)
    for nm in name_list:
        sig = _sig_np(nm, cache)
        for b in range(N_BANDS):
            buckets[(b, sig[b * r:(b + 1) * r].tobytes())].append(nm)

    dropped_b = dropped_rows = 0
    pairs: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            dropped_b += 1
            dropped_rows += len(members)
            continue
        members.sort()
        for i in range(len(members) - 1):
            a = members[i]
            for j in range(i + 1, len(members)):
                pairs.add((a, members[j]))

    tfs = {nm: Counter(_ngrams(nm)) for nm in name_list}
    n = len(name_list)
    df_counts: Counter = Counter()
    for c in tfs.values():
        df_counts.update(c.keys())
    idf = {g: math.log((n + 1.0) / (dfc + 1.0)) + 1.0
           for g, dfc in df_counts.items()}
    weights: dict[str, dict[str, float]] = {}
    for nm, c in tfs.items():
        w = {g: tf * idf[g] for g, tf in c.items()}
        nrm = math.sqrt(sum(v * v for v in w.values()))
        weights[nm] = {g: v / nrm for g, v in w.items()}

    edges: list[tuple[str, str, float]] = []
    for a, b in sorted(pairs):
        wa, wb = weights[a], weights[b]
        if len(wa) > len(wb):
            wa, wb = wb, wa
        cos = sum(v * wb[g] for g, v in wa.items() if g in wb)
        if cos >= threshold:
            edges.append((a, b, cos))
    return edges, {"dropped_buckets": dropped_b,
                   "dropped_band_rows": dropped_rows}


_EDGE_SCHEMA = "name_a string, name_b string, cos double"


def collect_vocabulary(mentions: DataFrame) -> list[str] | None:
    """The name vocabulary as a driver list, or None when it has more than
    LOCAL_LINK_MAX_VOCAB names (one collect of at most
    LOCAL_LINK_MAX_VOCAB + 1 rows)."""
    head = name_vocabulary(mentions).limit(LOCAL_LINK_MAX_VOCAB + 1).collect()
    return ([row.name for row in head]
            if len(head) <= LOCAL_LINK_MAX_VOCAB else None)


def link_local(spark: SparkSession, name_list: list[str],
               threshold: float = DEFAULT_COSINE_THRESHOLD,
               metrics: dict | None = None) -> tuple[list[tuple], DataFrame]:
    """Link a driver-held vocabulary: → (edge tuples, edges frame). The
    frame is pandas-backed, so committing it is one write job."""
    edges, drop_stats = _link_local(name_list, threshold)
    _report_drops(drop_stats, metrics)
    return edges, spark.createDataFrame(
        pd.DataFrame(edges, columns=["name_a", "name_b", "cos"]),
        schema=_EDGE_SCHEMA)


def link_edges(mentions: DataFrame,
               threshold: float = DEFAULT_COSINE_THRESHOLD,
               names: DataFrame | None = None,
               local_max_vocab: int = LOCAL_LINK_MAX_VOCAB,
               metrics: dict | None = None) -> DataFrame:
    """mentions → similarity edges over the name vocabulary.

    Pass a pre-built ``checkpointed_vocabulary`` when the caller also needs
    the vocabulary (e.g. entity_table) so it is computed exactly once.

    Scale shape: the vocabulary distinct always runs distributed (it reduces
    the mention stream). The quadratic-ish candidate/rescore stage then sees
    ONLY vocabulary-sized data — when that fits on the driver
    (≤ `local_max_vocab` names), one collect and the pure-Python pass of
    `_link_local` replace the vocabulary-sized shuffle jobs of the banding
    self-join and the TF-IDF rescore, whose per-job latency, not data, is
    their cost at that size. Big vocabularies (the 10^12-file regime) take
    the distributed banding path unchanged. Set ``local_max_vocab=0`` to
    force distributed.

    Either path records its hot-bucket drop counters in ``metrics``
    (see candidate_pairs)."""
    if names is None:
        names = checkpointed_vocabulary(mentions)
    if local_max_vocab:
        head = names.limit(local_max_vocab + 1).collect()
        if len(head) <= local_max_vocab:
            return link_local(names.sparkSession, [row.name for row in head],
                              threshold, metrics)[1]
    pairs = candidate_pairs(names, metrics=metrics)
    weights = ngram_tfidf(names)
    return score_pairs(pairs, weights, threshold)
