"""Deduplication operators for a large-scale training-data pipeline.

Four strategies, cheapest→richest; each keeps the Spark-first discipline
(set-based DataFrame ops, broadcast/shuffle visible to Catalyst, content-
derived deterministic winners — never "first row wins"):

- exact       sha256 groupBy; scales trivially (one shuffle on the hash).
- ngram-jaccard  token-shingle self-join; exact Jaccard, bounded by shingle
                 postings (rare shingles dropped caps the join fanout).
- minhash-lsh   reuses operators/linking.py banding (signatures once per
                 doc, pairs only within band buckets) — the 100 TB path.
- embedding-cosine  near-dup in vector space over `embeddings`.

The vendored-duplicate corpus fixture (FIXTURES.md: identical files across
≥5 repos) plus the driver `documents` table are the test surfaces.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# _winnow_anchors lives in textstats (next to winnow_fingerprints, its
# Spark-side twin) so winnow_containment_pairs can emit the anchors it
# selects (r8 VERDICT next-round #6); re-imported here for duplicate_spans.
from .textstats import _winnow_anchors, gram_hash_arr, tokens_col


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content; keeper = min id (deterministic)."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), id_col)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def _gram_hashes(text_col):
    """Distinct token-n-gram hash array as a scan-side Column expr for
    callers with NO sub-n-token pre-filter (`decontaminate`'s per-doc gram
    counts — short docs yield an empty array). Gram hashes come from
    textstats.gram_hash_arr: per-token xxhash64 once + rotate-xor window
    combine, never a gram string (r6 VERDICT what's-wrong #1 — the
    concat_ws formulation was also O(L²) in doc length; see
    gram_hash_arr's docstring for the lambda-binding mechanics)."""
    def grams(n: int):
        return F.array_distinct(gram_hash_arr(F.col(text_col), n))
    return grams


def _shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle-hash) postings. Shingles are 64-bit gram hashes
    (textstats.gram_hash_arr — token hashes combined per window, no gram
    string ever built): the self-join shuffle moves 8-byte longs instead
    of ~30-byte strings, and gram construction is O(L·n) on longs (64-bit
    collisions are immaterial next to the Jaccard threshold).

    Documents with fewer than n tokens have NO n-gram shingles and are
    excluded (they contribute no pairs). The r3 formulation emitted one ""
    shingle for empty docs and one short gram for sub-n docs — so two empty
    documents scored J=1.0 while the SQL oracle (which filters them) found
    nothing (r3 VERDICT "what's wrong" #1); the divergence was latent only
    because the driver corpus has no such rows."""
    toks = tokens_col(F.col(text_col))
    return df.filter(F.size(toks) >= n).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(
            gram_hash_arr(F.col(text_col), n))).alias("shingle"),
    )


# auto-regime crossover: route to the prefix/PPJoin regime when the p99
# posting length clears this. Basis (measured, sf0.1 + boilerplate
# fixtures): thin postings (p99 ≈ 1-2, natural text) run ~3× faster on the
# direct join — the quadratic work prefix filtering removes is already tiny
# and its window sort + verify joins dominate; pair work grows ~pn² per
# posting, so by pn ≈ 8 the ~25× candidate reduction wins.
AUTO_PREFIX_P99 = 8


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_posting: int = 1000,
                        regime: str = "postings",
                        metrics: dict | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs; output identical in every regime.

    Shared-shingle counting gives |A∩B|; set sizes give the union. Postings
    longer than `max_posting` (boilerplate shingles) are dropped — at corpus
    scale a single hot shingle otherwise quadratically explodes the join
    (the skew lesson of J5 applied to dedup). Set sizes stay uncapped, so
    capping only ever shrinks jaccard (loud in the score, never a phantom
    pair).

    Regimes (measured, sf0.1):
    - ``"postings"`` (default): direct capped-postings self-join — ~3×
      faster on thin-postings corpora (natural text, |posting| mostly 1-2)
      where the quadratic pair work prefix filtering would remove is
      already tiny and the filter's extra sort + verify shuffles dominate.
    - ``"prefix"``: PPJoin prefix-filtered candidates + exact verify
      (see :func:`_prefix_verified_pairs`) — wins on boilerplate-heavy
      corpora where postings run long.
    - ``"auto"``: ONE extra tiny agg (p99 posting length, computed on the
      postings table the cap needs anyway) picks the regime at the
      measured crossover (:data:`AUTO_PREFIX_P99`).

    ``metrics`` receives the regime that ran (``regime``) and, under
    ``"auto"``, the p99 posting length that chose it (``p99_posting``) —
    "which plan did my corpus get?"."""
    if regime not in ("postings", "prefix", "auto"):
        raise ValueError(f"unknown regime: {regime!r}")
    # NOTE (r10, measured): carrying per-doc set sizes on every posting row
    # (with_size=True) to skip the sizes agg + joins was A/B'd and is ~14%
    # SLOWER here — the heavy pair-count aggregation then groups on 32-byte
    # keys instead of 16, and that exchange dominates; the sizes joins it
    # saved are tiny. Kept the narrow-key formulation.
    sh = _shingles(df, text_col, id_col, n)
    # force a hash exchange on the join key: with a small/single-partition
    # source, Catalyst otherwise broadcasts both sides and fuses the whole
    # quadratic pair-count into ONE task (CPU-dense work needs row-based,
    # not byte-based, parallelism)
    sh = sh.repartition(df.sparkSession.sparkContext.defaultParallelism, "shingle")
    cached = regime != "postings"
    if cached:
        # postings stats + sizes + (regime-dependent reuses) all read sh;
        # released below once the result is materialized
        sh = sh.persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    postings = sh.groupBy("shingle").agg(F.count("*").alias("pn"))
    if regime == "auto":
        p99 = postings.agg(
            F.percentile_approx("pn", 0.99).alias("p")).collect()[0][0]
        regime = "prefix" if (p99 or 0) > AUTO_PREFIX_P99 else "postings"
        if metrics is not None:
            metrics["p99_posting"] = p99
    if metrics is not None:
        metrics["regime"] = regime
    shc = sh.join(F.broadcast(postings.filter(F.col("pn") > max_posting)),
                  "shingle", "left_anti")
    if regime == "postings":
        a, b = shc.alias("a"), shc.alias("b")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
        out = _score_pairs(inter, sizes, threshold)
    else:
        out = _prefix_verified_pairs(shc, sizes, threshold)
    if cached:
        out = out.localCheckpoint(eager=True)  # materialize, then free
        sh.unpersist()
    return out


def _score_pairs(inter: DataFrame, sizes: DataFrame,
                 threshold: float) -> DataFrame:
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") /
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter")) + 1e-9, 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_verified_pairs(sh: DataFrame, sizes: DataFrame,
                           threshold: float) -> DataFrame:
    """PPJoin core over capped postings `sh`: prefix candidates + exact
    verify (Bayardo/Ma/Srikant, WWW 2007; Xiao et al. PPJoin). `sh` is read
    three times (prefix ranking, verify ×2) — the caller holds it cached.

    Under any global shingle order, two (capped) sets with J ≥ t must share
    an element inside their first |A′| − ⌈t·|A′|⌉ + 1 shingles — proof: the
    pair needs |A′∩B′| ≥ t/(1+t)·(|A|+|B|) ≥ ⌈t·max(|A′|,|B′|)⌉ shared
    shingles, and fewer than that many elements of either set lie OUTSIDE
    its prefix. So the quadratic self-join runs over ~(1−t) of each set
    and the surviving candidates are verified with an exact count.

    prefix = the |A′|−⌈t·|A′|⌉+1 smallest shingle hashes per doc (the
    global order is the xxhash64 value itself — uniform, deterministic).
    −1e-9 before ceil: 0.8·115 computes as 92.00000000000001 in binary fp
    and a spurious ceil→93 would SHORTEN the prefix (the unsafe
    direction — longer is always safe, shorter drops pairs)."""
    w = Window.partitionBy("id").orderBy("shingle")
    pre = (sh.withColumn("rk", F.row_number().over(w))
           .join(sh.groupBy("id").agg(F.count("*").alias("szc")), "id")
           .filter(F.col("rk") <=
                   F.col("szc") -
                   F.ceil(F.lit(threshold) * F.col("szc") - 1e-9) + 1)
           .select("id", "shingle"))
    a, b = pre.alias("a"), pre.alias("b")
    cand = (a.join(b, "shingle")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    # exact verify: count the FULL (capped) intersection per candidate pair
    inter = (
        cand.join(sh.withColumnsRenamed({"id": "id_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b"}), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _score_pairs(inter, sizes, threshold)


def exact_dup_pairs(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(id_a, id_b) star edges linking every byte-identical duplicate to its
    group's min id — the exact-dup channel for :func:`dedup_clusters`.
    Near-dup signatures exclude sub-n-token docs by design (two empty
    documents are NOT near-duplicates of each other in shingle space), so
    a cluster pass that must also collapse byte-identical short/empty docs
    unions these pairs in: exact equality needs no shingles. One shuffle on
    sha256; star edges keep the pair count linear in group size."""
    grouped = exact_dedup(df, text_col, id_col)
    members = df.select(F.sha2(F.col(text_col), 256).alias("content_hash"),
                        F.col(id_col).alias("id_b"))
    return (members.join(grouped.filter(F.col("n_copies") > 1),
                         "content_hash")
            .filter(F.col("id_b") != F.col("keeper_id"))
            .select(F.col("keeper_id").alias("id_a"), "id_b"))


def decontaminate(docs: DataFrame, benchmarks: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text", n: int = 13) -> DataFrame:
    """Benchmark decontamination — flag training documents that share any
    n-token gram (default 13, the GPT-3 appendix-C / Llama overlap width;
    Brown et al. 2020, Touvron et al. 2023) with a held-out eval/benchmark
    set. Returns one row per input doc: (id, n_grams, hit_grams,
    contamination_ratio, contaminated); filter on ``NOT contaminated`` for
    the training-safe corpus, or rank by the ratio to audit borderline docs.

    Scale shape: the benchmark side is eval-sized, so its distinct shingle
    set BROADCASTS — the corpus stream is scan-side shingling plus a
    broadcast hash join; the only shuffle is the per-doc hit count, whose
    input is hits-sized (contaminated grams only), not corpus-sized.
    Per-doc gram totals are a scan-side Column (no postings shuffle).
    Docs with < n tokens have no grams and are trivially clean."""
    grams = _gram_hashes(text_col)(n)
    base = docs.select(F.col(id_col).alias("id"),
                       F.size(grams).alias("n_grams"))
    # the postings id is discarded — the text column doubles as it, so the
    # benchmark frame needs no particular id column
    bench_sh = _shingles(benchmarks, bench_text_col,
                         bench_text_col, n).select("shingle").distinct()
    hits = (_shingles(docs, text_col, id_col, n)
            .join(F.broadcast(bench_sh), "shingle")
            .groupBy("id").agg(F.count("*").alias("hit_grams")))
    return (base.join(hits, "id", "left")
            .select("id", "n_grams",
                    F.coalesce("hit_grams", F.lit(0)).alias("hit_grams"))
            .withColumn(
                "contamination_ratio",
                F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                    F.round(F.col("hit_grams") / F.col("n_grams") + 1e-9, 4)))
            .withColumn("contaminated", F.col("hit_grams") > 0))


def ngram_novelty(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Cross-document duplication score — for each doc, the fraction of
    its distinct n-grams that also occur in at least one OTHER document:
    (id, n_grams, shared_grams, novelty) with novelty = 1 − shared/total
    (1.0 = fully novel, 0.0 = every gram seen elsewhere). The
    corpus-level complement of repetition_stats' within-doc ratios: a doc
    can be internally pristine yet assembled entirely from boilerplate —
    this is the signal that catches it, and the ranking a curation pass
    uses to prefer novel text when near-dup clusters tie.

    Scale shape: one postings shuffle (the `_shingles` relation, 8-byte
    hashed grams) feeding both the posting-count agg and the per-doc
    shared count — strictly LINEAR in corpus grams (no self-join, no pair
    generation: even a shingle shared by a million docs contributes one
    row per posting, never a cross product — contrast the capped pair
    operators). Docs with < n tokens have no grams and emit n_grams = 0,
    novelty = 1.0."""
    grams = _gram_hashes(text_col)(n)
    base = docs.select(F.col(id_col).alias("id"),
                       F.size(grams).alias("n_grams"))
    sh = _shingles(docs, text_col, id_col, n)
    posting_docs = sh.groupBy("shingle").agg(F.count("*").alias("pn"))
    shared = (sh.join(posting_docs, "shingle")
              .filter(F.col("pn") > 1)
              .groupBy("id").agg(F.count("*").alias("shared_grams")))
    return (base.join(shared, "id", "left")
            .select("id", "n_grams",
                    F.coalesce("shared_grams", F.lit(0)).alias("shared_grams"))
            .withColumn(
                "novelty",
                F.when(F.col("n_grams") == 0, F.lit(1.0)).otherwise(
                    F.round(1.0 - F.col("shared_grams") / F.col("n_grams")
                            + 1e-9, 4))))


def dedup_clusters(pairs: DataFrame, docs: DataFrame,
                   id_col: str = "doc_id",
                   order_col: str | None = None) -> DataFrame:
    """Close the dedup loop: near-dup PAIRS (from any pair operator in this
    module — Jaccard/MinHash/cosine) → duplicate CLUSTERS → one
    deterministic keeper per cluster. Returns one row per INPUT doc:
    (id, keeper_id, cluster_size, is_keeper); docs in no pair form their own
    singleton cluster. Filtering to ``is_keeper`` is the "keep one copy"
    training-data pass.

    Clustering is transitive closure over the pair graph — the same
    min-label connected components as entity canonicalization
    (operators/cc.py: distributed fixpoint above the size cap, union-find
    below), so the default keeper is the MINIMUM id of the cluster:
    content-derived, deterministic at any parallelism. ``order_col``
    (numeric, e.g. a quality score) switches to the KEEP-THE-BEST-COPY
    policy most published pipelines use (RefinedWeb, Gopher dedup): the
    keeper is the cluster's max-``order_col`` doc, ties broken by min id,
    null scores rank worst — still a pure function of the row set. Pair
    operators emit vocabulary- or near-dup-bounded edge sets, so CC state
    is pairs-sized, not corpus-sized."""
    from .cc import connected_components

    edges = pairs.select(F.col("id_a").cast("string").alias("name_a"),
                         F.col("id_b").cast("string").alias("name_b"))
    comps = connected_components(edges)
    cols = [F.col(id_col).cast("string").alias("name")]
    if order_col is not None:
        cols.append(F.col(order_col).cast("double").alias("_s"))
    ids = docs.select(*cols)
    id_type = docs.schema[id_col].dataType
    out = (
        ids.join(comps, "name", "left")
        .select("name", *([c for c in ("_s",) if order_col is not None]),
                F.coalesce(F.col("component"), F.col("name")).alias("_comp"))
    )
    # keeper agg: min ORIGINAL-typed id (string-min would order "10" <
    # "9"), or min over (-score, id) for best-copy; one groupBy on the
    # component label either way
    if order_col is None:
        keeper = (out.groupBy("_comp")
                  .agg(F.min(F.col("name").cast(id_type))
                       .alias("keeper_id"),
                       F.count("*").alias("cluster_size")))
    else:
        best = F.min(F.struct(
            (-F.coalesce(F.col("_s"),
                         F.lit(float("-inf")))).alias("neg_s"),
            F.col("name").cast(id_type).alias("kid")))
        keeper = (out.groupBy("_comp")
                  .agg(best.alias("_best"),
                       F.count("*").alias("cluster_size"))
                  .select("_comp", F.col("_best.kid").alias("keeper_id"),
                          "cluster_size"))
        out = out.drop("_s")
    return (out.join(keeper, "_comp")
            .select(F.col("name").cast(id_type).alias("id"),
                    "keeper_id", "cluster_size",
                    (F.col("name").cast(id_type) == F.col("keeper_id"))
                    .alias("is_keeper")))


def minhash_doc_signatures(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, sig array<long>) MinHash signatures over token 3-gram shingles
    — one Arrow pass; the storable/reusable half of `minhash_dedup_pairs`
    (incremental curation persists these so a new batch can band-join
    against EVERYTHING seen without re-reading old text).

    Sub-n-token rule (r4 VERDICT "what's wrong" #1): documents with fewer
    than 3 tokens — including the empty string — have NO 3-gram shingles,
    so they get a null signature and appear in no pairs, exactly matching
    `_shingles`' exclusion in the exact operator. The r4 formulation gave
    them one degenerate short gram, so two empty docs scored
    est_jaccard = 1.0 while the exact operator emitted nothing."""
    from .linking import _A, _B, _MERSENNE

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def doc_sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Per-task gram → permuted-row cache (guide §4.5: heavyweight work
        # once per task, amortized over every batch): duplicated shingles —
        # boilerplate, near-dup clusters, small vocabularies — skip both the
        # per-gram blake2b and the (1, N_PERM) permutation multiply on
        # every repeat. Arithmetic is IDENTICAL to the uncached form (same
        # int64 expression, elementwise min over the same rows), so
        # signatures are bit-equal. Capped so a pathological partition of
        # all-distinct grams cannot grow the dict unboundedly.
        cache: dict[str, np.ndarray] = {}
        cache_max = 1 << 17
        for texts in batches:
            out = []
            for t in texts:
                toks = (t or "").split()
                if len(toks) < 3:
                    out.append(None)
                    continue
                grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
                vecs, misses = [], []
                for g in grams:
                    v = cache.get(g)
                    if v is None:
                        misses.append(g)
                    else:
                        vecs.append(v)
                if misses:
                    hs = np.fromiter(
                        (int.from_bytes(
                            hashlib.blake2b(g.encode(), digest_size=8).digest(),
                            "big") & ((1 << 61) - 1) for g in misses),
                        dtype=np.int64, count=len(misses))
                    mv = (hs[:, None] * _A[None, :] + _B[None, :]) % _MERSENNE
                    under = len(cache) < cache_max
                    for g, row in zip(misses, mv):
                        if under:
                            cache[g] = row
                        vecs.append(row)
                out.append(np.min(np.stack(vecs), axis=0).tolist())
            yield pd.Series(out)

    return df.select(F.col(id_col).alias("id"),
                     doc_sig(F.col(text_col)).alias("sig")) \
             .filter(F.col("sig").isNotNull())


def minhash_band_table(sigs: DataFrame) -> DataFrame:
    """Public name for the slim band relation — the MATERIALIZABLE half of
    the LSH index: (id, band, band_hash), one row per (doc, band). An
    incremental pipeline commits this table once per batch and feeds it
    back via ``minhash_pairs_from_signatures(bands_all=...)``, so history
    signatures are never re-banded (r6 VERDICT next-round #5); stored
    clustered by (band, band_hash) — an Iceberg bucket(band_hash)
    transform at scale — the history side of the band join is a slim,
    co-located read."""
    return _sig_bands(sigs)


def _sig_bands(sigs: DataFrame) -> DataFrame:
    """SLIM band rows (id, band, band_hash) — the signature itself stays
    behind (r5 VERDICT what's-wrong #3: carrying the 32-slot sig through
    the 16-band posexplode shipped 512 longs per doc through the heaviest
    shuffle of the dedup path; the band join needs only the 8-byte hash,
    and est_jaccard re-joins signatures on the candidate-sized output)."""
    from .linking import N_BANDS, N_PERM
    r = N_PERM // N_BANDS
    return sigs.select(
        "id",
        F.posexplode(F.array(*[F.slice("sig", i * r + 1, r)
                               for i in range(N_BANDS)]))
        .alias("band", "band_sig"),
    ).withColumn("band_hash", F.xxhash64("band", "band_sig")) \
     .select("id", "band", "band_hash")


# band-bucket cap: like linking.MAX_BUCKET but sized for documents — a
# bucket of b docs contributes b·(b−1)/2 candidate pairs, so an uncapped
# boilerplate bucket (thousands of near-identical docs hashing every band
# equal) turns the equi-join quadratic (r5 VERDICT what's-wrong #4). The
# byte-identical core of such clusters still collapses through the exact
# sha256 channel (exact_dup_pairs), which has no quadratic blowup.
MAX_BAND_BUCKET = 256


def minhash_pairs_from_signatures(sigs_probe: DataFrame, sigs_all: DataFrame,
                                  threshold: float = 0.7,
                                  self_join: bool = False,
                                  max_bucket: int | None = MAX_BAND_BUCKET,
                                  metrics: dict | None = None,
                                  bands_all: DataFrame | None = None,
                                  ) -> DataFrame:
    """Banded candidate pairs between a PROBE signature set and the full
    set (probe ⊆ all for self-dedup; probe = the new batch for incremental
    dedup), rescored by estimated Jaccard (matching-slot fraction). Pairs
    are emitted min-id-first and deduped; self-pairs excluded. The join is
    a plain equi-shuffle on (band, band_hash) — the banding bound holds no
    matter how large `sigs_all` grows. ``self_join=True`` (probe IS all)
    prunes to a.id < b.id pre-dedup — each unordered pair appears in both
    orders there, so the ordered half is complete and half the size.

    Scale shape (r5 VERDICT what's-wrong #3/#4): band rows are SLIM —
    (id, band, band_hash), not the signature — and band buckets larger
    than ``max_bucket`` on the full side are dropped from BOTH sides with
    counted, logged drops (``metrics``), the linking.py cap discipline: a
    corpus where one boilerplate band bucket swallows thousands of docs is
    observable, never silently quadratic. Signatures re-join by id only on
    the candidate-sized (near-dup-bounded) output for the est rescore; the
    result is materialized eagerly (candidate-thresholded, small) so the
    persist() that keeps the signature frames single-computed can be
    released before returning.

    ``bands_all`` — a prebuilt (id, band, band_hash) table from
    :func:`minhash_band_table` covering the SAME id set as ``sigs_all`` —
    skips re-banding the full side entirely (r6 VERDICT next-round #5):
    the incremental pattern commits the band table once per batch and the
    history side of the band join becomes a 3-column read instead of a
    per-batch posexplode+hash over every historical signature.
    ``sigs_all`` is then touched only by the candidate-sized rescore
    joins. Ignored when ``self_join``/probe-is-all sharing applies —
    pass it for the probe≠all incremental case."""
    from .linking import N_PERM

    shared = sigs_probe is sigs_all
    # persist only frames NOT already persisted by the caller, and release
    # only what THIS function persisted (ADVICE r6): Spark persistence is
    # not reference-counted, so unconditionally unpersisting in the finally
    # block silently evicted a caller's cache of sigs_all (the documented
    # cross-batch incremental reuse pattern) after every call — and
    # overrode any caller-chosen storage level.
    def _stored(frame: DataFrame) -> bool:
        lvl = frame.storageLevel
        return lvl.useMemory or lvl.useDisk
    ours: list[DataFrame] = []
    if not _stored(sigs_all):
        sigs_all = sigs_all.persist()
        ours.append(sigs_all)
    if shared:
        sigs_probe = sigs_all
    elif not _stored(sigs_probe):
        sigs_probe = sigs_probe.persist()
        ours.append(sigs_probe)
    try:
        if shared or bands_all is None:
            bands_all = _sig_bands(sigs_all)
        bands_probe = bands_all if shared else _sig_bands(sigs_probe)
        if max_bucket is not None:
            # the hot set is tiny (≤ band_rows / max_bucket buckets):
            # collect once, anti-join against a local relation — one
            # computation, nothing silent (linking.py:131-153 discipline).
            # In the incremental (probe ≠ all) case only buckets the PROBE
            # touches can contribute pairs, so the size agg is restricted
            # to those first — per-batch cap cost stays probe-bounded as
            # the history side grows instead of re-counting every
            # historical bucket each batch.
            sized = bands_all if shared else bands_all.join(
                bands_probe.select("band", "band_hash").distinct(),
                ["band", "band_hash"], "left_semi")
            hot_rows = (sized.groupBy("band", "band_hash")
                        .agg(F.count("*").alias("bn"))
                        .filter(F.col("bn") > max_bucket).collect())
            drop_stats = {"dropped_buckets": len(hot_rows),
                          "dropped_band_rows": int(sum(r["bn"]
                                                       for r in hot_rows))}
            if metrics is not None:
                metrics.update(drop_stats)
            if hot_rows:
                import sys
                print(f"[dedup] dropped {drop_stats['dropped_buckets']} hot "
                      f"band buckets ({drop_stats['dropped_band_rows']} band "
                      f"rows) over max_bucket={max_bucket}", file=sys.stderr)
                hot = sigs_all.sparkSession.createDataFrame(
                    [(r["band"], r["band_hash"]) for r in hot_rows],
                    "band int, band_hash bigint")
                bands_all = bands_all.join(
                    F.broadcast(hot), ["band", "band_hash"], "left_anti")
                bands_probe = bands_all if shared else bands_probe.join(
                    F.broadcast(hot), ["band", "band_hash"], "left_anti")
        a, b = bands_probe.alias("a"), bands_all.alias("b")
        cond = F.col("a.id") < F.col("b.id") if self_join \
            else F.col("a.id") != F.col("b.id")
        cand = (a.join(b, ["band", "band_hash"])
                .filter(cond)
                .select(F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                        F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
        # signatures rejoin on the candidate-sized output only
        cand = (cand
                .join(sigs_all.select(F.col("id").alias("id_a"),
                                      F.col("sig").alias("sig_a")), "id_a")
                .join(sigs_all.select(F.col("id").alias("id_b"),
                                      F.col("sig").alias("sig_b")), "id_b"))
        # estimated Jaccard = fraction of matching signature slots
        est = F.size(F.zip_with("sig_a", "sig_b",
                                lambda x, y: F.when(x == y, 1))) - \
            F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                       lambda x, y: F.when(x == y, 1)),
                            lambda v: v.isNull()))
        out = (cand.withColumn("est_jaccard", F.round(est / F.lit(N_PERM), 4))
               .filter(F.col("est_jaccard") >= threshold)
               .select("id_a", "id_b", "est_jaccard"))
        return out.localCheckpoint(eager=True)  # materialize, then free
    finally:
        for frame in ours:
            frame.unpersist()


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.7) -> DataFrame:
    """MinHash+LSH near-dup candidates rescored by exact Jaccard — the scale
    path (signatures are one Arrow pass; banding bounds the join). The
    composition of :func:`minhash_doc_signatures` and
    :func:`minhash_pairs_from_signatures` over one document set.

    Reuses the linking minhash over token 3-gram shingle strings by hashing
    each document's shingle set instead of a name's char-ngrams."""
    sigs = minhash_doc_signatures(df, text_col, id_col)
    return minhash_pairs_from_signatures(sigs, sigs, threshold,
                                         self_join=True)


def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           max_rows: int = 100_000) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ threshold.

    Brute-force O(n²) self-join — the exact BASELINE for recall tests and
    small inputs only. **Prefer the ANN top-k** in operators/similarity.py
    (IVF or PQ) for anything production-sized: at 100 TB a
    cartesian is a detonation, so this guard counts the input and refuses
    above ``max_rows`` (set ``max_rows=None`` only if you truly mean n²)."""
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_cosine_pairs is an O(n²) crossJoin baseline; "
                f"input has {n} rows > max_rows={max_rows}. Use "
                f"similarity.topk_ivf or topk_pq at this scale, or pass a "
                f"larger max_rows / max_rows=None to force the cartesian.")
    vec = F.col(vec_col).cast("array<double>")  # float64 for oracle parity
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    v = emb.select(F.col(id_col).alias("id"), vec.alias("v"), norm.alias("nrm"))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.round(dot / (F.col("a.nrm") * F.col("b.nrm")) + 1e-9, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _common_fwd(a: str, b: str, i: int, j: int, chunk: int = 512) -> int:
    """Length of the longest common prefix of a[i:] and b[j:] — chunked
    slice comparison (C-speed) with a char-level tail inside the first
    mismatching chunk. O(match length)."""
    k = 0
    while True:
        sa, sb = a[i + k:i + k + chunk], b[j + k:j + k + chunk]
        if len(sa) == chunk and sa == sb:
            k += chunk
            continue
        m, t = min(len(sa), len(sb)), 0
        while t < m and sa[t] == sb[t]:
            t += 1
        return k + t


def _common_bwd(a: str, b: str, i: int, j: int, chunk: int = 512) -> int:
    """Longest common suffix length of a[:i] and b[:j] (chars before
    positions i/j)."""
    k = 0
    while True:
        lo_a, lo_b = max(0, i - k - chunk), max(0, j - k - chunk)
        sa, sb = a[lo_a:i - k], b[lo_b:j - k]
        if len(sa) == chunk and sa == sb:
            k += chunk
            continue
        m, t = min(len(sa), len(sb)), 0
        while t < m and sa[-1 - t] == sb[-1 - t]:
            t += 1
        return k + t


def duplicate_spans(docs: DataFrame, pairs: DataFrame, min_len: int = 50,
                    text_col: str = "text", id_col: str = "doc_id",
                    max_text_chars: int = 200_000,
                    n: int = 3, window: int = 4,
                    max_gram_occurrences: int = 3,
                    max_match_points: int = 10_000,
                    metrics: dict | None = None,
                    anchors: DataFrame | None = None) -> DataFrame:
    """Exact duplicated CHARACTER spans between candidate pairs — the
    verified form of the exact-substring dedup signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": remove
    repeated spans ≥ some length, not whole near-dup docs). For each
    (id_a, id_b) candidate pair, emits every MAXIMAL exactly-equal span
    containing a shared winnow anchor, with length ≥ ``min_len``:
    (id_a, id_b, start_a, start_b, length) — character offsets into each
    text. Feed :func:`span_coverage` / :func:`remove_spans`.

    Candidates come from any pair operator (winnow_containment_pairs is
    the natural producer); this operator never generates pairs itself, so
    the exact matching is CANDIDATE-BOUNDED by construction — the
    suffix-array sort of the original paper re-expressed as
    LSH-candidates + per-pair verification.

    Per-pair cost is LINEAR, not difflib's O(len_a·len_b) (r7 VERDICT
    what's-wrong #2 — one adversarial 200k-char repetitive pair was a
    multi-hour straggler): both texts are winnowed in O(len) (the same
    n/window selection the candidate producer ran), anchors match by gram
    hash, and each matched anchor extends to its maximal equal span via
    chunked slice comparison in O(span). Extensions are memoized per
    alignment diagonal, so k anchors inside one duplicated block cost one
    extension, not k. Detection floor = the producer's SIGMOD'03
    guarantee: every shared run ≥ ``n + window − 1`` tokens contains a
    shared anchor (difflib had no floor but quadratic cost; a sub-floor
    char run that is not a whole-token run was invisible to the CANDIDATE
    producer anyway). Unlike one-alignment difflib blocks, crossing
    repeats are ALL reported — span_coverage unions and remove_spans
    excises intervals, so more-complete evidence only improves both.

    Bounds, all COUNTED (``metrics``): texts truncate at
    ``max_text_chars`` (truncated_pairs); gram hashes occurring more
    than ``max_gram_occurrences`` times per side pair only their first
    occurrences and a pair emits at most ``max_match_points`` anchor
    matches (dropped_anchor_pairs) — the pathological all-anchors-match
    repetitive population degrades to bounded work with loud accounting
    instead of an unbounded alignment.

    ``anchors=`` (r8 VERDICT next-round #6): pass the (id, anchors)
    relation ``winnow_containment_pairs(..., emit_anchors=True)`` emits
    and the verifier consumes the producer's own anchor selection —
    every text winnowed ONCE in the whole chain — instead of re-running
    :func:`~.textstats._winnow_anchors` per doc here. Same function,
    same selection, same caps ⇒ the spans output is bit-identical to the
    self-winnowing path (pinned in tests); docs absent from the relation
    fall back to computing locally."""
    from pyspark.sql import types as T

    id_type = docs.schema[id_col].dataType  # ADVICE r7: not always long
    a = docs.select(F.col(id_col).alias("id_a"),
                    F.col(text_col).alias("_ta"))
    b = docs.select(F.col(id_col).alias("id_b"),
                    F.col(text_col).alias("_tb"))
    cand = (pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
            .join(a, "id_a").join(b, "id_b")
            .withColumn("_trunc",
                        (F.length("_ta") > max_text_chars).cast("int") +
                        (F.length("_tb") > max_text_chars).cast("int")))
    has_anchors = anchors is not None
    if has_anchors:
        cand = (cand
                .join(anchors.select(F.col("id").alias("id_a"),
                                     F.col("anchors").alias("_aa")),
                      "id_a", "left")
                .join(anchors.select(F.col("id").alias("id_b"),
                                     F.col("anchors").alias("_ab")),
                      "id_b", "left"))

    schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("start_a", T.IntegerType()),
        T.StructField("start_b", T.IntegerType()),
        T.StructField("length", T.IntegerType()),
        T.StructField("_trunc", T.IntegerType()),
        T.StructField("_dropped", T.LongType()),
    ])
    cap = max_text_chars
    occ_cap, mp_cap = max_gram_occurrences, max_match_points

    def match_pairs(batches):
        import pandas as pd

        # per-task memo: a doc in k candidate pairs of this batch is
        # winnowed ONCE, not k times (boilerplate clusters put one doc in
        # many pairs) — and when the producer carried its anchors on the
        # pair relation, not at all. Keyed by id — ids are tiny, texts
        # are not; the cache lives for one Arrow batch stream.
        memo: dict = {}

        def doc_info(did, text, carried):
            got = memo.get(did)
            if got is None:
                if carried is not None:
                    got = [(int(x["h"]), int(x["c"])) for x in carried]
                else:
                    got = _winnow_anchors(text, n, window)
                memo[did] = got
            return got

        def one_pair(ia, ib, ta: str, tb: str, car_a, car_b):
            anch_a = doc_info(ia, ta, car_a)
            anch_b = doc_info(ib, tb, car_b)
            if not anch_a or not anch_b:
                return [], 0
            by_hash: dict[int, list[int]] = {}
            for h, p in anch_a:
                by_hash.setdefault(h, []).append(p)
            dropped = 0
            points: list[tuple[int, int]] = []
            seen_b: dict[int, int] = {}
            for h, pb in anch_b:
                pas = by_hash.get(h)
                if pas is None:
                    continue
                nb = seen_b.get(h, 0)
                seen_b[h] = nb + 1
                if nb >= occ_cap:           # hot gram on the b side
                    dropped += len(pas[:occ_cap])
                    continue
                dropped += max(0, len(pas) - occ_cap)
                for pa in pas[:occ_cap]:
                    if len(points) >= mp_cap:
                        dropped += 1
                        continue
                    points.append((pa, pb))
            # extend each match point to its maximal equal span, memoized
            # per diagonal (char_start_a − char_start_b); anchor
            # positions ARE char offsets (_winnow_anchors emits them)
            covered: dict[int, list[tuple[int, int]]] = {}
            spans = []
            for ca, cb in points:
                diag = ca - cb
                ivs = covered.setdefault(diag, [])
                if any(s <= ca < e for s, e in ivs):
                    continue
                back = _common_bwd(ta, tb, ca, cb)
                fwd = _common_fwd(ta, tb, ca, cb)
                s_a, s_b, ln = ca - back, cb - back, back + fwd
                ivs.append((s_a, s_a + ln))
                if ln >= min_len:
                    spans.append((s_a, s_b, ln))
            return spans, dropped

        def carried_cell(pdf, col, i):
            if col not in pdf.columns:
                return None
            v = pdf[col].iloc[i]
            return None if v is None or isinstance(v, float) else v

        for pdf in batches:
            out = []
            for i, (ia, ib, ta, tb, trunc) in enumerate(
                    zip(pdf["id_a"], pdf["id_b"],
                        pdf["_ta"], pdf["_tb"], pdf["_trunc"])):
                # carried anchors were selected on the FULL text — a
                # truncated side recomputes locally on the clipped text
                # so the anchor set matches what extension can see
                car_a = carried_cell(pdf, "_aa", i) \
                    if len(ta) <= cap else None
                car_b = carried_cell(pdf, "_ab", i) \
                    if len(tb) <= cap else None
                spans, dropped = one_pair(ia, ib, ta[:cap], tb[:cap],
                                          car_a, car_b)
                for s_a, s_b, ln in spans:
                    out.append((ia, ib, s_a, s_b, ln, trunc, 0))
                if dropped:
                    # sentinel metrics row, filtered out of the result
                    out.append((ia, ib, -1, -1, -1, trunc, dropped))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    res = cand.mapInPandas(match_pairs, schema).localCheckpoint(eager=True)
    # _trunc repeats per span of a truncated pair: count truncated PAIRS
    n_trunc = (cand.agg(F.coalesce(
        F.sum((F.col("_trunc") > 0).cast("int")), F.lit(0))
        .cast("long")).collect()[0][0])
    n_dropped = (res.agg(F.coalesce(F.sum("_dropped"), F.lit(0))
                         .cast("long")).collect()[0][0])
    stats = {"truncated_pairs": int(n_trunc),
             "dropped_anchor_pairs": int(n_dropped)}
    if metrics is not None:
        metrics.update(stats)
    return res.filter(F.col("length") >= 0).drop("_trunc", "_dropped")


def span_coverage(docs: DataFrame, spans: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (id, n_chars, dup_chars, dup_fraction) — per document, the
    fraction of characters covered by ANY duplicate span (either side of
    :func:`duplicate_spans` output): the per-doc statistic a span-removal
    or doc-drop policy thresholds on. Docs in no span emit dup_chars 0.

    Interval-union via the classic island window — sort a doc's spans by
    start, a span opens a new island when it starts past the running max
    end, covered = Σ island extents. Pure Columns + one window partitioned
    by doc (spans are near-dup-bounded, so the window input is small);
    ANSI-expressible end to end."""
    sides = (spans.select(F.col("id_a").alias("id"),
                          F.col("start_a").alias("start"),
                          (F.col("start_a") + F.col("length")).alias("end"))
             .unionByName(
                 spans.select(F.col("id_b").alias("id"),
                              F.col("start_b").alias("start"),
                              (F.col("start_b") + F.col("length"))
                              .alias("end"))))
    w_prev = (Window.partitionBy("id").orderBy("start", "end")
              .rowsBetween(Window.unboundedPreceding, -1))
    islanded = (sides
                .withColumn("_pmax", F.max("end").over(w_prev))
                .withColumn("_new", (F.col("_pmax").isNull() |
                                     (F.col("start") > F.col("_pmax")))
                            .cast("int"))
                .withColumn("_island", F.sum("_new").over(
                    Window.partitionBy("id").orderBy("start", "end")
                    .rowsBetween(Window.unboundedPreceding, 0))))
    covered = (islanded.groupBy("id", "_island")
               .agg((F.max("end") - F.min("start")).alias("_ext"))
               .groupBy("id").agg(F.sum("_ext").alias("dup_chars")))
    base = docs.select(F.col(id_col).alias("id"),
                       F.length(text_col).alias("n_chars"))
    return (base.join(covered, "id", "left")
            .select("id", "n_chars",
                    F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"))
            .withColumn("dup_fraction",
                        F.when(F.col("n_chars") == 0, F.lit(0.0))
                        .otherwise(F.round(F.col("dup_chars") /
                                           F.col("n_chars") + 1e-9, 4))))


def remove_spans(docs: DataFrame, spans: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The Lee et al. 2022 INTERVENTION for :func:`duplicate_spans`'
    signal: rewrite documents with their duplicated character intervals
    excised, keep-first-occurrence across each pair — the a-side of a
    span keeps its text, the b-side loses [start_b, start_b+length). A
    doc never named on any b-side passes through byte-identical.

    Returns docs with ``text_col`` rewritten plus audit/lineage columns:
    ``n_removed_chars`` (exact, interval-union — overlapping spans never
    double-count), ``was_rewritten``, and ``content_sha256`` recomputed
    over the NEW text (the pipeline lineage invariant: downstream
    manifests digest what was actually emitted, not the pre-surgery
    bytes).

    Pure Columns end to end (ANSI-expressible): the b-side intervals are
    island-merged per doc (the span_coverage window — spans-bounded, not
    corpus-bounded), collected into one sorted array per rewritten doc,
    and the excision is a single F.aggregate fold that concatenates the
    kept slices — one pass over each rewritten text, no Python UDF, no
    shuffle beyond the spans-sized groupBy and one join back to docs."""
    b = spans.select(F.col("id_b").alias("id"),
                     F.col("start_b").alias("start"),
                     (F.col("start_b") + F.col("length")).alias("end"))
    w_prev = (Window.partitionBy("id").orderBy("start", "end")
              .rowsBetween(Window.unboundedPreceding, -1))
    islanded = (b
                .withColumn("_pmax", F.max("end").over(w_prev))
                .withColumn("_new", (F.col("_pmax").isNull() |
                                     (F.col("start") > F.col("_pmax")))
                            .cast("int"))
                .withColumn("_island", F.sum("_new").over(
                    Window.partitionBy("id").orderBy("start", "end")
                    .rowsBetween(Window.unboundedPreceding, 0))))
    ivs = (islanded.groupBy("id", "_island")
           .agg(F.min("start").alias("start"), F.max("end").alias("end"))
           .groupBy("id")
           .agg(F.sort_array(F.collect_list(F.struct("start", "end")))
                .alias("_ivs")))

    # the ORIGINAL text rides under a private name: re-aliasing the
    # rewritten text as text_col in the output select would otherwise make
    # every later text_col reference resolve to the new LATERAL alias
    # (Spark's implicit lateral-column-alias resolution) — the audit
    # columns would silently measure a twice-rewritten text
    text = F.col("_orig")
    # clamp to the doc (a foreign spans table may overrun); merged+sorted
    # intervals stay monotone under clamping
    clamped = F.transform(
        F.col("_ivs"),
        lambda iv: F.struct(
            F.greatest(iv.start.cast("bigint"),
                       F.lit(0).cast("bigint")).alias("start"),
            F.least(iv.end.cast("bigint"),
                    F.length(text).cast("bigint")).alias("end")))
    acc0 = F.struct(F.lit(0).cast("bigint").alias("pos"),
                    F.lit("").alias("out"))
    rewritten = F.aggregate(
        clamped, acc0,
        lambda acc, iv: F.struct(
            F.greatest(acc.pos, iv.end).alias("pos"),
            F.concat(acc.out, text.substr(
                (acc.pos + 1).cast("int"),
                F.greatest(iv.start - acc.pos,
                           F.lit(0).cast("bigint")).cast("int")))
            .alias("out")),
        lambda acc: F.concat(
            acc.out, text.substr(
                (acc.pos + 1).cast("int"),
                F.greatest(F.length(text).cast("bigint") - acc.pos,
                           F.lit(0).cast("bigint")).cast("int"))))
    new_text = F.when(F.col("_ivs").isNull(), text).otherwise(rewritten)

    other = [c for c in docs.columns if c not in (id_col, text_col)]
    return (docs.withColumnRenamed(text_col, "_orig")
            .join(ivs.withColumnRenamed("id", id_col), id_col, "left")
            .select(id_col, *other,
                    new_text.alias(text_col),
                    (F.length(text) - F.length(new_text)).cast("int")
                    .alias("n_removed_chars"),
                    F.col("_ivs").isNotNull().alias("was_rewritten"),
                    F.sha2(new_text, 256).alias("content_sha256")))


def dedup_paragraphs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", sep: str = "\n",
                     min_chars: int = 1) -> DataFrame:
    """Corpus-wide PARAGRAPH/LINE-level exact deduplication — the CCNet
    preprocessing step (Wenzek et al. 2020, "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data"): a line duplicated
    ACROSS documents (navigation boilerplate, cookie banners, license
    headers) keeps exactly its FIRST occurrence — min (doc_id, position)
    over the whole corpus, deterministic at any parallelism — and is
    removed everywhere else. Documents are rewritten in place.

    Returns docs with ``text_col`` rewritten plus audit/lineage columns:
    n_lines, n_removed_lines, removed_chars, was_rewritten, and
    content_sha256 recomputed over the NEW text (the remove_spans
    lineage discipline).

    Only segments whose trimmed length ≥ ``min_chars`` are dedup-ELIGIBLE;
    empty segments are preserved verbatim, so split("\\n") → rejoin is a
    byte-exact round-trip for untouched documents. ``sep`` is a LITERAL
    separator (regex-escaped before F.split so '.' or '|' round-trip).

    Pure Columns end to end (DuckDB parity pinned in tests): one
    posexplode, one map-side-combinable groupBy→min(struct) for the
    first-occurrence table, one join back (hot boilerplate lines are a
    1-row build side — no fan-out), one per-doc reassembly groupBy. Both
    corpus-sized exchanges key on ``xxhash64(line)`` — 8-byte keys
    instead of shuffling every boilerplate line's full bytes as the key
    (the _dedup_lines_batch discipline, plans/curation_incremental.py);
    a 64-bit collision between two distinct corpus lines would merge
    their first-occurrence groups — the same accepted, documented trade
    as the incremental sibling (~n²/2⁶⁵)."""
    lines = F.split(F.col(text_col), re.escape(sep))
    ex = docs.select(F.col(id_col).alias("id"),
                     F.posexplode(lines).alias("idx", "line"))
    ex = ex.withColumn("line_hash", F.xxhash64("line"))
    elig = F.length(F.trim(F.col("line"))) >= min_chars
    firsts = (ex.filter(elig)
              .groupBy("line_hash")
              .agg(F.min(F.struct(F.col("id"), F.col("idx")))
                   .alias("_first")))
    marked = (ex.join(firsts, "line_hash", "left")
              .withColumn("_keep",
                          F.col("_first").isNull() |
                          (F.struct(F.col("id"), F.col("idx"))
                           == F.col("_first"))))
    # ONE collect per doc carrying the keep flag; both the rewritten text
    # and the ORIGINAL text derive from the sorted collection (r10, guide
    # §2.4): reconstructing _orig here — split/rejoin on a literal sep is
    # byte-lossless — removes a third full evaluation of the input
    # expression tree (the r9 shape read `docs` once for _orig, once for
    # the firsts branch, once for the rebuild branch; expensive derived
    # text_col inputs, e.g. the board query's 3-word lining, paid 3×).
    # Docs with NULL text have no exploded rows and fall through the left
    # join exactly as before (NULL text, 0 lines, NULL removed_chars).
    coll = F.array_sort(F.collect_list(F.struct("idx", "line", "_keep")))
    rebuilt = (marked.groupBy("id").agg(
        F.array_join(F.transform(
            F.filter(coll, lambda s: s["_keep"]), lambda s: s["line"]), sep)
        .alias("_new"),
        F.array_join(F.transform(coll, lambda s: s["line"]), sep)
        .alias("_orig"),
        F.count("*").cast("int").alias("n_lines"),
        F.sum((~F.col("_keep")).cast("int")).cast("int")
        .alias("n_removed_lines")))

    other = [c for c in docs.columns if c not in (id_col, text_col)]
    out = (docs.drop(text_col)
           .join(rebuilt.withColumnRenamed("id", id_col), id_col, "left"))
    new_text = F.coalesce(F.col("_new"), F.col("_orig"))
    return out.select(
        id_col, *other,
        new_text.alias(text_col),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_removed_lines", F.lit(0)).alias("n_removed_lines"),
        (F.length("_orig") - F.length(new_text)).cast("int")
        .alias("removed_chars"),
        (F.coalesce("n_removed_lines", F.lit(0)) > 0).alias("was_rewritten"),
        F.sha2(new_text, 256).alias("content_sha256"))


def decontaminate_bloom(docs: DataFrame, benchmarks: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text", n: int = 13,
                        m_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """Bloom-gated benchmark decontamination — :func:`decontaminate` for
    benchmark sets too large to broadcast exactly: the benchmark's
    distinct n-gram hashes compress into a fixed-size Bloom filter
    (operators/sketches.bloom_table — m_bits/8 bytes REGARDLESS of
    benchmark size), which broadcasts to the corpus-side membership
    probe. Output schema matches :func:`decontaminate` (id, n_grams,
    hit_grams, contamination_ratio, contaminated).

    One-sided the SAFE way round: a Bloom false positive over-counts a
    hit (a clean doc may drop — rate ~(1−e^{−k·n/m})^k, tunable via
    m_bits/k), but a contaminated gram can NEVER test absent, so no eval
    leak survives the gate. At the default 2^20 bits / k=5 a 10k-gram
    benchmark runs ≈ 1e-8 FP per gram probe."""
    from .sketches import bloom_contains, bloom_table

    grams = _gram_hashes(text_col)(n)
    base = docs.select(F.col(id_col).alias("id"),
                       F.size(grams).alias("n_grams"))
    bench_sh = _shingles(benchmarks, bench_text_col,
                         bench_text_col, n).select("shingle").distinct()
    bloom = bloom_table(bench_sh, ["shingle"], m_bits=m_bits, k=k)
    probes = _shingles(docs, text_col, id_col, n)
    # membership is keyed by the SHINGLE alone (the bloom's key); probe
    # the distinct shingles once, then rejoin to the (id, shingle) stream
    present_sh = bloom_contains(bloom, probes.select("shingle"),
                                ["shingle"], m_bits=m_bits, k=k) \
        .filter("maybe_present").select("shingle")
    hits = (probes.join(present_sh, "shingle")
            .groupBy("id").agg(F.count("*").alias("hit_grams")))
    return (base.join(hits, "id", "left")
            .select("id", "n_grams",
                    F.coalesce("hit_grams", F.lit(0)).alias("hit_grams"))
            .withColumn(
                "contamination_ratio",
                F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                    F.round(F.col("hit_grams") / F.col("n_grams") + 1e-9, 4)))
            .withColumn("contaminated", F.col("hit_grams") > 0))
