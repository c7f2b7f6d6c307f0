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
- Each name's MinHash signature is cut into N_BANDS bands, each band into
  one 64-bit bucket key; names that share a bucket are candidates. Hot
  buckets (e.g. thousands of near-identical vendored names) are capped at
  MAX_BUCKET and dropped with a count — a documented bound, not a silent
  truncation.
- ONE kernel, `_score_buckets` (numpy over a batch of buckets), scores the
  candidates from each member's bucket keys and TF-IDF vector (built once
  per name from one gram→df map), emitting a pair only from the lowest band
  whose non-hot bucket holds both names: no pair distinct. A driver-held
  vocabulary runs it over buckets grouped in numpy (no Spark job); a larger
  one through `groupBy(band, part).applyInArrow`, each group whole buckets,
  singleton and hot buckets filtered out in Spark. Both paths compute the
  same floats.
- Everything is content-derived and set-based → byte-identical results at
  any parallelism (the scaling determinism gate, SURVEY.md §4.2 item 5).

ml.feature.MinHashLSH was considered and rejected (SURVEY.md §7 M3): the
dense-vector conversion at this row shape costs more than the hand-rolled
signature and pins us to mllib's LSH parameterization.
"""

from __future__ import annotations

import hashlib
import sys
from itertools import chain
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


def _band_keys(sig: np.ndarray) -> np.ndarray:
    """(n, N_PERM) signatures → (n, N_BANDS) bucket keys: equal iff the band's
    signature slices are (up to 64-bit hash collisions). The band number is
    mixed in, so a key alone names its bucket."""
    s = sig.astype(np.uint64).reshape(len(sig), N_BANDS, -1)
    key = np.tile(np.arange(N_BANDS, dtype=np.uint64), (len(sig), 1))
    for k in range(s.shape[2]):  # splitmix64's finalizer of key ^ value
        key ^= s[:, :, k]
        key = (key ^ (key >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        key = (key ^ (key >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        key ^= key >> np.uint64(31)
    return key.view(np.int64)


def _ranges(start: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """np.arange(s, s + n) for each (s, n), concatenated."""
    return np.arange(lens.sum()) + np.repeat(start - np.cumsum(lens) + lens, lens)


def _runs(*cols: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Starts and lengths of the runs of equal rows of sorted columns."""
    new = np.ones(len(cols[0]), dtype=bool)
    if len(new):
        new[1:] = np.any([c[1:] != c[:-1] for c in cols], axis=0)
    start = np.flatnonzero(new)
    return start, np.diff(np.r_[start, len(new)])


class _Vectors(NamedTuple):
    """Sparse per-name vectors, CSR: row i holds grams gram[ptr[i]:ptr[i+1]]
    (61-bit gram hashes, ascending) with values val[ptr[i]:ptr[i+1]]."""
    ptr: np.ndarray
    gram: np.ndarray
    val: np.ndarray


def _name_grams(names: list) -> _Vectors:
    """Each name's distinct grams (as 61-bit hashes, ascending) with their
    term frequencies; every distinct gram is hashed once."""
    ids: dict[str, int] = {}
    occ = [[ids.setdefault(g, len(ids)) for g in _ngrams(nm or "")]
           for nm in names]
    row = np.repeat(np.arange(len(names)), [len(o) for o in occ])
    h = np.array([_hash64(g) for g in ids], dtype=np.int64)[
        np.fromiter(chain.from_iterable(occ), dtype=np.int64, count=len(row))]
    order = np.lexsort((h, row))
    row, h = row[order], h[order]
    start, tf = _runs(row, h)
    ptr = np.r_[0, np.cumsum(np.bincount(row[start], minlength=len(names)))]
    return _Vectors(ptr, h[start], tf)


def _bucket_keys(tf: _Vectors) -> np.ndarray:
    """Bucket keys of each name of ``tf``: its MinHash signature (signature_i
    = min over the name's grams of (a_i·h + b_i) mod p) cut into bands."""
    perm = tf.gram[:, None] * _A[None, :]
    perm += _B[None, :]
    perm %= _MERSENNE
    if not len(perm):
        return np.empty((0, N_BANDS), dtype=np.int64)
    return _band_keys(np.minimum.reduceat(perm, tf.ptr[:-1], axis=0))


def _tfidf(tf: _Vectors, df_gram: np.ndarray, df_count: np.ndarray,
           n: int) -> _Vectors:
    """L2-normalized tf·idf, idf = ln((n + 1) / (df + 1)) + 1, with each
    gram's df looked up in the sorted gram→df map (df_gram, df_count)."""
    df = df_count[np.searchsorted(df_gram, tf.gram)]
    w = tf.val * (np.log((n + 1.0) / (df + 1.0)) + 1.0)
    row = np.repeat(np.arange(len(tf.ptr) - 1), np.diff(tf.ptr))
    return tf._replace(val=w / np.sqrt(np.bincount(row, w * w))[row])


def _pair_dots(vec: _Vectors, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ_g vec[a][g]·vec[b][g] per pair, summed in ascending gram order of
    row a: a pair's dot product does not depend on the batch it is in."""
    gid = np.unique(vec.gram, return_inverse=True)[1].reshape(-1)
    n_g = int(gid.max()) + 1 if len(gid) else 1
    slot = np.repeat(np.arange(len(vec.ptr) - 1), np.diff(vec.ptr)) * n_g + gid
    by_b = np.argsort(b, kind="stable")  # ascending lookups stay cache-local
    a, b = a[by_b], b[by_b]
    lens = np.diff(vec.ptr)[a]
    pair = np.repeat(np.arange(len(a)), lens)
    pos = _ranges(vec.ptr[a], lens)
    want = b[pair] * n_g + gid[pos]
    hit = np.minimum(np.searchsorted(slot, want), max(len(slot) - 1, 0))
    ok = slot[hit] == want
    out = np.empty(len(a))
    out[by_b] = np.bincount(pair[ok], weights=vec.val[pos[ok]] * vec.val[hit[ok]],
                            minlength=len(a))
    return out


def _score_buckets(keys: np.ndarray, vec: _Vectors, members: np.ndarray,
                   bounds: np.ndarray, bands: np.ndarray, hot: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The linking kernel (both paths): every candidate pair of a batch of
    band buckets, scored, once. Bucket k is band ``bands[k]``'s bucket of
    member rows ``members[bounds[k]:bounds[k+1]]`` (2..MAX_BUCKET, ascending);
    row i has bucket keys ``keys[i]`` and TF-IDF vector ``vec`` row i; ``hot``
    holds the dropped buckets' keys. A pair is emitted only from the lowest
    band whose non-hot bucket holds both rows. → (a, b, cos), rows a < b."""
    sizes = np.diff(bounds)
    at = np.arange(bounds[-1])
    later = np.repeat(bounds[1:], sizes) - at - 1  # members after `at`
    a, b = members[np.repeat(at, later)], members[_ranges(at + 1, later)]
    band = np.repeat(np.repeat(bands, sizes), later)
    by_band = np.ascontiguousarray(keys.T)
    clean = ~np.isin(by_band, hot)
    first = np.ones(len(a), dtype=bool)
    for k in range(N_BANDS - 1):
        first &= ~((band > k) & (by_band[k][a] == by_band[k][b]) & clean[k][a])
    a, b = a[first], b[first]
    return a, b, _pair_dots(vec, a, b)


def _driver_buckets(keys: np.ndarray):
    """A driver-held vocabulary's band rows grouped into buckets in numpy →
    (members, bounds, bands, hot keys) for `_score_buckets`, and the drop
    counters. Rows must be in name order: members stay ascending."""
    flat = keys.reshape(-1)  # member i's band-b key at i * N_BANDS + b
    order = np.argsort(flat, kind="stable")
    k = flat[order]
    start, size = _runs(k)
    hot = size > MAX_BUCKET
    keep = (size >= 2) & ~hot
    drops = {"dropped_buckets": int(hot.sum()),
             "dropped_band_rows": int(size[hot].sum())}
    return (order[np.repeat(keep, size)] // N_BANDS,
            np.r_[0, np.cumsum(size[keep])], order[start[keep]] % N_BANDS,
            k[start[hot]], drops)


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
        print(f"[linking] dropped {drop_stats['dropped_buckets']} hot band "
              f"buckets ({drop_stats['dropped_band_rows']} band rows) over "
              f"MAX_BUCKET={MAX_BUCKET}", file=sys.stderr)


def _gram_rows(batches):
    """mapInArrow: each name's distinct grams, one row per (name, gram)."""
    for batch in batches:
        tf = _name_grams(batch.column("name").to_pylist())
        yield pa.RecordBatch.from_arrays([pa.array(tf.gram)], ["gram"])


def _feature_rows(df_gram: np.ndarray, df_count: np.ndarray, n: int):
    """mapInArrow: name → (name, keys, gram, w), its bucket keys and
    L2-normalized TF-IDF vector."""
    def run(batches):
        for batch in batches:
            tf = _name_grams(batch.column("name").to_pylist())
            keys = _bucket_keys(tf)
            vec = _tfidf(tf, df_gram, df_count, n)
            at = pa.array(vec.ptr.astype(np.int32))
            yield pa.RecordBatch.from_arrays([
                batch.column("name"),
                pa.ListArray.from_arrays(
                    pa.array(np.arange(0, keys.size + 1, N_BANDS, dtype=np.int32)),
                    pa.array(keys.reshape(-1))),
                pa.ListArray.from_arrays(at, pa.array(vec.gram)),
                pa.ListArray.from_arrays(at, pa.array(vec.val))],
                ["name", "keys", "gram", "w"])
    return run


def _bucket_scorer(hot: np.ndarray):
    """applyInArrow: one group of whole band buckets → their scored pairs."""
    def run(table: pa.Table) -> pa.Table:
        t = table.sort_by([("bucket", "ascending"), ("name", "ascending")])
        m = t.num_rows
        keys, gram, w = (pc.list_flatten(t.column(c)).to_numpy()
                         for c in ("keys", "gram", "w"))
        lens = pc.list_value_length(t.column("gram")).to_numpy()
        start, _ = _runs(t.column("bucket").to_numpy())
        a, b, cos = _score_buckets(
            keys.reshape(m, N_BANDS), _Vectors(np.r_[0, np.cumsum(lens)], gram, w),
            np.arange(m), np.r_[start, m], t.column("band").to_numpy()[start],
            hot)
        names = t.column("name")
        return pa.table({"name_a": names.take(a), "name_b": names.take(b),
                         "cos": cos})
    return run


_EDGE_SCHEMA = "name_a string, name_b string, cos double"


def candidate_pairs(names: DataFrame,
                    metrics: dict | None = None) -> DataFrame:
    """names(name) → every candidate pair, once, as (name_a, name_b, cos):
    the kernel run distributed (see the module docstring), IDF from one
    collected gram→df aggregate. Hot buckets (> MAX_BUCKET members) are
    dropped, and that drop is MATERIALIZED, not silent (ADVICE r1): its
    counts are logged to stderr and recorded in `metrics` (keys
    `dropped_buckets`, `dropped_band_rows`)."""
    n = names.count()
    df_gram, df_count = np.array(sorted(names.mapInArrow(
        _gram_rows, "gram bigint").groupBy("gram").count().collect()),
        dtype=np.int64).reshape(-1, 2).T
    bands = names.mapInArrow(
        _feature_rows(df_gram, df_count, n),
        "name string, keys array<bigint>, gram array<bigint>, w array<double>",
    ).select("*", F.posexplode("keys").alias("band", "bucket"))
    # the hot set is tiny (≤ band rows / MAX_BUCKET keys): collect it once
    hot, hot_rows = np.array(bands.groupBy("band", "bucket").count()
                             .filter(F.col("count") > MAX_BUCKET)
                             .select("bucket", "count").collect(),
                             dtype=np.int64).reshape(-1, 2).T
    _report_drops({"dropped_buckets": len(hot),
                   "dropped_band_rows": int(hot_rows.sum())}, metrics)
    # each kernel call gets whole buckets, about one Arrow batch of rows (a
    # batch size ≤ 0 means unlimited); one exchange serves window and groups
    batch = int(names.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    parts = max(-(-n // batch), 1) if batch > 0 else 1
    part = F.pmod("bucket", F.lit(parts)).alias("part")
    size = F.count("*").over(Window.partitionBy("band", "part", "bucket"))
    return (bands.select("*", part).repartition("band", "part")
            .withColumn("size", size)
            .filter(F.col("size").between(2, MAX_BUCKET))
            .groupBy("band", "part")
            .applyInArrow(_bucket_scorer(hot), _EDGE_SCHEMA))


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
# (see link_edges); the banding cap bounds the pair set. 15k names took
# 3.3-4.5 s on a 4-core host through the kernel on the driver (6.2-12.1 s
# distributed). Above this size the distributed path is mandatory.
LOCAL_LINK_MAX_VOCAB = 50_000


def _vocabulary_head(names: DataFrame, limit: int) -> list[str] | None:
    """The vocabulary frame's names as a driver list, or None when it has
    more than ``limit`` (one collect of at most ``limit`` + 1 rows)."""
    head = names.limit(limit + 1).collect()
    return [row.name for row in head] if len(head) <= limit else None


def collect_vocabulary(mentions: DataFrame) -> list[str] | None:
    """The name vocabulary as a driver list, or None when it has more than
    LOCAL_LINK_MAX_VOCAB names."""
    return _vocabulary_head(name_vocabulary(mentions), LOCAL_LINK_MAX_VOCAB)


def link_local(spark: SparkSession, name_list: list[str],
               threshold: float = DEFAULT_COSINE_THRESHOLD,
               metrics: dict | None = None) -> tuple[list[tuple], DataFrame]:
    """Link a driver-held vocabulary: the kernel over buckets grouped in
    numpy, no Spark job → (edge tuples, edges frame). The frame is
    pandas-backed, so committing it is one write job."""
    names = np.array(sorted(name_list), dtype=object)
    tf = _name_grams(names.tolist())
    keys = _bucket_keys(tf)
    vec = _tfidf(tf, *np.unique(tf.gram, return_counts=True), len(names))
    *batch, drops = _driver_buckets(keys)
    a, b, cos = _score_buckets(keys, vec, *batch)
    _report_drops(drops, metrics)
    keep = cos >= threshold
    edges = list(zip(names[a[keep]].tolist(), names[b[keep]].tolist(),
                     cos[keep].tolist()))
    return edges, spark.createDataFrame(
        pd.DataFrame(edges, columns=["name_a", "name_b", "cos"]),
        schema=_EDGE_SCHEMA)


def link_edges(mentions: DataFrame,
               threshold: float = DEFAULT_COSINE_THRESHOLD,
               names: DataFrame | None = None,
               local_max_vocab: int = LOCAL_LINK_MAX_VOCAB,
               metrics: dict | None = None) -> DataFrame:
    """mentions → similarity edges (name_a, name_b, cos ≥ threshold) over
    the name vocabulary: the kernel's pairs at or above the threshold.

    Pass a pre-built ``checkpointed_vocabulary`` when the caller also needs
    the vocabulary (e.g. entity_table) so it is computed exactly once. A
    vocabulary of ≤ ``local_max_vocab`` names is collected and linked by
    `link_local` (per-job latency, not data, is the distributed path's cost
    at that size); larger ones take `candidate_pairs`. Set
    ``local_max_vocab=0`` to force distributed. Either path records its
    hot-bucket drop counters in ``metrics``."""
    if names is None:
        names = checkpointed_vocabulary(mentions)
    head = _vocabulary_head(names, local_max_vocab) if local_max_vocab else None
    if head is not None:
        return link_local(names.sparkSession, head, threshold, metrics)[1]
    return candidate_pairs(names, metrics).filter(F.col("cos") >= threshold)
