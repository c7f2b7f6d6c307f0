"""Mergeable sketches as plain DataFrames — distributed cardinality and
frequency estimation whose STATE is a small table you can commit, read
back, and merge across runs (the property `approx_count_distinct` cannot
give you: its sketch lives inside one aggregation and dies with the job).

Why this matters at 100 TB: an incremental pipeline (curate_append)
wants "distinct tokens/urls/shas seen so far" without
re-reading history. A register table is a few KB; merging a new batch is
one groupBy-max over (old ∪ batch); the estimate is one agg. All pure
Column expressions over xxhash64 — no UDF, deterministic at any
parallelism. (xxhash64 has no DuckDB twin, so the pins are hash-free
invariants: split-merge ≡ whole bit-for-bit, partitioning invariance,
and accuracy gates against exact distinct/frequency counts.)

- HyperLogLog (Flajolet/Fusy/Gandon/Meunier, AofA 2007): 2^p registers,
  register = max leading-zero-rank of the hash suffix. Standard bias
  correction + linear counting at the small end.
- Count-Min (Cormode/Muthukrishnan, J.Alg 2005): d hash rows × w
  buckets of counts; point query = min over rows; merge = cell-wise sum.
  Overestimates only — the conservative direction for cap/skew guards.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _rho_col(h: Column, p: int) -> Column:
    """Leading-zero rank (rho) of the (64−p)-bit hash suffix, via exact
    integer/string logic (conv-to-binary length), never floating log2 —
    log(2, w) computed as ln(w)/ln 2 can land at k−ε for w = 2^k and
    floor off by one. w = 0 (all suffix bits zero) ranks 64−p+1."""
    nbits = 64 - p
    # suffix = low (64-p) bits of the hash, as a nonneg long
    w = h.bitwiseAND(F.lit((1 << nbits) - 1))
    blen = F.length(F.conv(w.cast("string"), 10, 2))  # bit length; '0'→1
    return F.when(w == 0, F.lit(nbits + 1)) \
        .otherwise(F.lit(nbits) + 1 - blen).cast("int")


def hll_registers(df: DataFrame, cols: list[str] | None = None,
                  p: int = 12, salt: str = "hll_v1") -> DataFrame:
    """→ (bucket, rho) — the 2^p-register HLL state of the DISTINCT keys
    in `cols` (default: all columns). Buckets absent from the output have
    register 0 (dense forms materialize them; keeping the table sparse
    makes empty-heavy sketches tiny). One groupBy on a 2^p-bounded key —
    the whole sketch build is a single map-side-combinable shuffle."""
    cols = cols or list(df.columns)
    h = F.xxhash64(*[F.col(c) for c in cols], F.lit(salt))
    bucket = F.shiftrightunsigned(h, 64 - p).cast("int")  # top p bits
    return (df.select(bucket.alias("bucket"), _rho_col(h, p).alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("rho")))


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Union sketches: cell-wise max. The register table IS the sketch,
    so cross-run union is `hll_merge(read_stage(...), hll_registers(batch))`
    — no history data re-read, ever."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, p: int = 12) -> float:
    """Cardinality estimate from a register table (one tiny agg + driver
    arithmetic on a few scalars). Standard HLL with linear counting below
    2.5·m (the Flajolet small-range correction): typical error
    1.04/√m ≈ 1.6 % at p = 12.

    ``p`` must match the ``p`` the registers were built with — the (bucket,
    rho) table does not record it (schema kept slim/commit-stable), so the
    one observable inconsistency is validated here (ADVICE r6): a bucket id
    ≥ 2^p proves the table was built with a LARGER p and the estimate would
    be silently, badly skewed — that raises. (An equal-p mismatch in the
    other direction is unobservable from the table; callers committing
    sketches across runs should commit p in their stage params, as
    curate_append does via its fixed default.) Dense register tables that
    materialize rho = 0 rows are also handled: a rho-0 row contributes
    2^0 = 1 to the harmonic sum exactly like an absent bucket, and counts
    as a zero register for linear counting."""
    m = 1 << p
    row = registers.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count("*").alias("nrows"),
        F.coalesce(F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)),
                   F.lit(0)).alias("z0"),
        F.max("bucket").alias("maxb")).collect()[0]
    if row.maxb is not None and row.maxb >= m:
        raise ValueError(
            f"register table has bucket {row.maxb} >= 2^{p}: it was built "
            f"with a larger p than the p={p} passed to hll_estimate")
    nrows = row.nrows or 0
    # absent buckets carry register 0 → each contributes 2^0 = 1
    s = (row.s or 0.0) + (m - nrows)
    alpha = 0.7213 / (1 + 1.079 / m)  # p >= 7 constant
    e = alpha * m * m / s
    zeros = (m - nrows) + int(row.z0)
    if e <= 2.5 * m and zeros > 0:
        e = m * math.log(m / zeros)  # linear counting
    return float(e)


def cms_table(df: DataFrame, key_cols: list[str] | None = None,
              d: int = 4, w: int = 1024,
              salt: str = "cms_v1") -> DataFrame:
    """→ (row, bucket, cnt) — a d×w Count-Min table of the key stream
    (one count per OCCURRENCE, not per distinct). Build = explode the d
    hash rows (a ×d scan-side multiply of slim ints) + one bounded-key
    groupBy. Merge across batches = unionByName + groupBy-sum
    (:func:`cms_merge`)."""
    key_cols = key_cols or list(df.columns)
    rows = F.explode(F.array(*[
        F.struct(F.lit(i).alias("row"),
                 F.pmod(F.xxhash64(*[F.col(c) for c in key_cols],
                                   F.lit(f"{salt}/{i}")), F.lit(w))
                 .cast("int").alias("bucket"))
        for i in range(d)]))
    return (df.select(rows.alias("rb"))
            .select("rb.row", "rb.bucket")
            .groupBy("row", "bucket").agg(F.count("*").alias("cnt")))


def cms_merge(*tables: DataFrame) -> DataFrame:
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_query(table: DataFrame, keys: DataFrame,
              key_cols: list[str] | None = None,
              d: int = 4, w: int = 1024,
              salt: str = "cms_v1") -> DataFrame:
    """→ keys + (est_count) — the Count-Min point estimate (min over the
    d rows; ≥ the true count always, with overestimate bounded by
    ε = e/w of the stream length at probability 1 − e^−d). The key side
    is small by use-case (suspects/top candidates) → its d-row explode
    broadcasts against the (d·w)-bounded table."""
    key_cols = key_cols or list(keys.columns)
    probes = keys.select(
        "*",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("row"),
                     F.pmod(F.xxhash64(*[F.col(c) for c in key_cols],
                                       F.lit(f"{salt}/{i}")), F.lit(w))
                     .cast("int").alias("bucket"))
            for i in range(d)])).alias("rb")) \
        .select(*key_cols, "rb.row", "rb.bucket")
    joined = probes.join(table, ["row", "bucket"], "left") \
        .select(*key_cols, F.coalesce("cnt", F.lit(0)).alias("cnt"))
    return joined.groupBy(*key_cols).agg(F.min("cnt").alias("est_count"))


# ---------------------------------------------------------------------------
# Bloom filter — mergeable set-membership sketch (Bloom, CACM 1970).
# State = (block, bits) rows: m_bits packed 64 per BIGINT block, only
# non-zero blocks stored. Merge = groupBy(block) bit_or — idempotent and
# commutative, so the curate_append commit discipline applies
# unchanged (re-merging a batch moves nothing). One-sided like CMS:
# membership answers are "definitely not present" or "maybe present"
# (false-positive rate ~ (1 - e^{-k·n/m})^k) — the right direction for
# decontamination gates, where a false positive over-drops a training doc
# but a false negative would leak an eval answer.
# ---------------------------------------------------------------------------


def _bloom_positions(key_cols: list[str], m_bits: int, k: int):
    """k bit positions per row via double hashing (Kirsch-Mitzenmacher:
    pos_i = h1 + i·h2 mod m preserves the asymptotic FP rate). Arithmetic
    stays in [0, 2m) — no int64 overflow under ANSI mode."""
    h1 = F.pmod(F.xxhash64(*key_cols, F.lit("bloom1")), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(*key_cols, F.lit("bloom2")), F.lit(m_bits))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + F.pmod(i.cast("bigint") * h2, F.lit(m_bits)),
                         F.lit(m_bits)))


def bloom_table(df: DataFrame, key_cols: list[str] | None = None,
                m_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """→ (block, bits) — Bloom filter of the distinct keys of ``df``.
    ≤ m_bits/64 rows (16 KiB of longs per 2^20 bits) regardless of key
    count: the membership gate a 100 TB pipeline can BROADCAST. One
    explode of k positions + one map-side-combinable bit_or groupBy."""
    cols = [F.col(c) for c in (key_cols or df.columns)]
    pos = F.explode(_bloom_positions(cols, m_bits, k)).alias("pos")
    return (df.select(pos)
            .select((F.col("pos") / 64).cast("bigint").alias("block"),
                    # shiftleft's AMOUNT must be an expression, which the
                    # pyspark function wrapper rejects as a Column
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(pos % 64 AS INT))").alias("mask"))
            .groupBy("block").agg(F.expr("bit_or(mask)").alias("bits")))


def bloom_merge(*tables: DataFrame) -> DataFrame:
    """Union of the underlying sets: cell-wise OR of the block tables."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("block").agg(F.bit_or("bits").alias("bits"))


def bloom_contains(bloom: DataFrame, probes: DataFrame,
                   key_cols: list[str] | None = None,
                   m_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """→ DISTINCT probe keys + ``maybe_present`` — one-sided membership:
    False is certain, True has the Bloom FP rate. The output carries the
    ``key_cols`` only, deduplicated (membership is a property of the KEY;
    non-key probe columns are dropped — join the verdict back onto the
    original frame on ``key_cols`` if you need row-aligned passthrough,
    as decontaminate_bloom does). ``m_bits``/``k`` MUST match the
    builder's. The probe side explodes k positions and joins the (tiny,
    broadcast) block table; per-probe presence = all k bits set."""
    cols = key_cols or probes.columns
    keyed = probes.select(*cols).distinct().withColumn(
        "_pos", F.explode(_bloom_positions([F.col(c) for c in cols],
                                           m_bits, k)))
    hit = (keyed
           .withColumn("block", (F.col("_pos") / 64).cast("bigint"))
           .withColumn("mask", F.expr(
               "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"))
           .join(F.broadcast(bloom), "block", "left")
           .withColumn("_set",
                       (F.coalesce(F.col("bits"), F.lit(0))
                        .bitwiseAND(F.col("mask")) != 0).cast("int")))
    return (hit.groupBy(*cols)
            .agg((F.sum("_set") == k).alias("maybe_present")))


# ---------------------------------------------------------------------------
# Log-bucketed histogram — mergeable QUANTILE state for positive metrics
# (doc lengths, token counts, chunk sizes, latencies). State = (bucket,
# cnt) rows with bucket = floor(k·log2(x)): counts are exact, merge =
# groupBy-sum (idempotent pipeline-commit discipline does NOT apply —
# counts are additive like CMS, so incremental callers use the epoch
# guard), and any quantile reads back with RELATIVE error ≤ 2^(1/k) − 1
# (~9% at the default k=8; raise k for tighter bands). The mergeable
# complement of percentile_approx, whose sketch dies with its aggregation
# — this one is a table you commit once per batch and fold forever.
# Zero and negative values land in a reserved bucket (MIN_BUCKET) and
# count toward rank but interpolate as 0.
# ---------------------------------------------------------------------------

_LOG_MIN_BUCKET = -(1 << 30)


def log_histogram(df: DataFrame, value_col: str, k: int = 8) -> DataFrame:
    """→ (bucket, cnt) — the mergeable log-histogram of a positive metric
    column. One scan-side bucket expression + one map-side-combinable
    groupBy; ≤ k·64 + 1 distinct buckets regardless of row count."""
    v = F.col(value_col).cast("double")
    bucket = F.when(v <= 0, F.lit(_LOG_MIN_BUCKET)) \
        .otherwise(F.floor(F.lit(k) * F.log2(v)).cast("long"))
    return (df.select(bucket.alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("cnt")))


def log_histogram_merge(*tables: DataFrame) -> DataFrame:
    """Union of the underlying populations: bucket-wise count sum."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def log_histogram_quantiles(hist: DataFrame, qs: list[float],
                            k: int = 8) -> dict[float, float]:
    """Quantile estimates from a committed histogram: walk the cumulative
    counts to each rank and return the geometric midpoint of its bucket
    — relative error ≤ 2^(1/k) − 1 by construction. The histogram is
    KB-sized (bucket-bounded), so the walk is a driver-side fold over
    one tiny collect — never a data-sized operation."""
    import math

    rows = sorted((r["bucket"], r["cnt"]) for r in hist.collect())
    total = sum(c for _, c in rows)
    if total == 0:
        raise ValueError("empty histogram")
    out: dict[float, float] = {}
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
        rank = q * total
        seen = 0.0
        val = 0.0
        for b, c in rows:
            seen += c
            if seen >= rank:
                val = 0.0 if b == _LOG_MIN_BUCKET else \
                    2.0 ** ((b + 0.5) / k)  # geometric bucket midpoint
                break
        out[q] = val
    return out


def bottomk_sample(df: DataFrame, k: int, key_cols: list[str] | None = None,
                   salt: str = "bk_v1",
                   hash_fn: str = "xxhash64") -> DataFrame:
    """MERGEABLE uniform sample: the k rows whose keyed hash is smallest
    (bottom-k / KMV sampling — the same order statistic the KMV distinct
    sketch uses). Because min-of-hashes commutes with union, bottom-k of
    a whole corpus ≡ :func:`bottomk_merge` of per-shard bottom-k's — a
    committable, resumable uniform sample with NO RNG state, stable
    across runs, partitionings, and cluster sizes (the
    stratified_sample determinism contract, but for a fixed-SIZE sample
    instead of a fixed rate).

    Plan shape: hash is a scan-side Column; orderBy(limit k) compiles to
    TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver, k-bounded, never a global sort shuffle. Ties beyond the hash
    break on the key columns, so the result is a pure function of the
    row SET. ``hash_fn="md5_48"`` swaps xxhash64 for the 48-bit
    md5-prefix hash with a DuckDB twin (the text_fingerprint scheme) —
    the oracle-able form."""
    if k <= 0:
        raise ValueError("k must be positive")
    cols = key_cols or df.columns
    keyed = [F.col(c).cast("string") for c in cols]
    if hash_fn == "xxhash64":
        h = F.xxhash64(*keyed, F.lit(salt))
    elif hash_fn == "md5_48":
        h = F.conv(F.substring(F.md5(
            F.concat_ws("\x1f", *keyed, F.lit(salt))), 1, 12),
            16, 10).cast("bigint")
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    return (df.withColumn("bk_hash", h)
            .orderBy("bk_hash", *cols).limit(k))


def bottomk_merge(k: int, *samples: DataFrame) -> DataFrame:
    """Union of shard samples → the k smallest again. Exactly the whole-
    corpus bottom-k as long as every shard kept its own bottom-k (the
    KMV merge property). Inputs dedupe first — KMV is an order statistic
    of the row SET, so merging overlapping shards (or replaying the same
    batch) is idempotent; the union is k-bounded per
    input, so the distinct is sketch-sized."""
    out = samples[0]
    for s in samples[1:]:
        out = out.unionByName(s)
    order = [c for c in out.columns if c != "bk_hash"]
    return out.dropDuplicates().orderBy("bk_hash", *order).limit(k)


def mg_summary(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Misra-Gries heavy-hitters summary, the MERGEABLE form (Agarwal et
    al., PODS 2012 "Mergeable Summaries"): ≤ k (key, est) rows where est
    is a LOWER bound on the key's true count and true − est ≤ N/(k+1) —
    every key with frequency > N/(k+1) is guaranteed present. The
    bounded-state complement of Count-Min: CMS answers point queries
    (over-estimates, needs the key), MG RETURNS the heavy keys
    themselves, in k·(key+8B) of committable state regardless of corpus
    size.

    Shape: one mapInPandas pass runs classic k-counter MG per partition
    (bounded memory, no shuffle of the raw stream), the ≤ k·partitions
    partial rows reduce via groupBy-sum, and :func:`mg_compress` trims
    back to k with the rank-(k+1) subtraction that preserves the bound.
    Deterministic for a fixed input partitioning (MG is stream-order
    dependent — the bounds hold for ANY order; tests pin bounds, size,
    and presence, not exact counts)."""
    from pyspark.sql import types as T

    if k <= 0:
        raise ValueError("k must be positive")
    schema = T.StructType([
        T.StructField("key", df.schema[key_col].dataType),
        T.StructField("est", T.LongType())])

    def per_partition(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for key in pdf[key_col]:
                if key in counters:
                    counters[key] += 1
                elif len(counters) < k:
                    counters[key] = 1
                else:
                    dead = [kk for kk in counters
                            if counters[kk] == 1]
                    for kk in counters:
                        counters[kk] -= 1
                    for kk in dead:
                        del counters[kk]
        yield pd.DataFrame({"key": list(counters.keys()),
                            "est": list(counters.values())})

    partials = df.select(key_col).mapInPandas(per_partition, schema)
    return mg_compress(partials.groupBy("key")
                       .agg(F.sum("est").alias("est")), k)


def mg_compress(summary: DataFrame, k: int) -> DataFrame:
    """Trim a (key, est) relation to ≤ k rows, preserving the MG error
    bound: keep the k largest (ties by key), subtract the (k+1)-th
    largest est from every kept row, drop ≤ 0. The relation is
    summary-sized (≤ k·shards), so the single-partition rank window and
    the 1-row threshold agg are sketch operations, never corpus ones."""
    ranked = summary.withColumn(
        "_r", F.row_number().over(Window.orderBy(F.desc("est"), "key")))
    thr = ranked.agg(F.coalesce(
        F.max(F.when(F.col("_r") == k + 1, F.col("est"))),
        F.lit(0).cast("long")).alias("_thr"))
    return (ranked.crossJoin(F.broadcast(thr))
            .filter(F.col("_r") <= k)
            .withColumn("est", F.col("est") - F.col("_thr"))
            .filter(F.col("est") > 0)
            .select("key", "est"))


def mg_merge(k: int, *summaries: DataFrame) -> DataFrame:
    """Merge shard summaries: sum per key, compress to k. Error bounds
    add: merged error ≤ Σ N_shard/(k+1) = N/(k+1)."""
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return mg_compress(out.groupBy("key").agg(F.sum("est").alias("est")),
                       k)


def grouped_quantiles(df: DataFrame, value_col: str, by: str,
                      qs: list[float], k: int = 8) -> DataFrame:
    """→ (``by``, q, est) — per-GROUP quantile estimates from per-group
    log-histograms, entirely as DataFrame ops (the distributed form of
    :func:`log_histogram_quantiles`' driver-side walk — that one returns
    scalars for ONE population; this one scales to millions of groups).
    Relative error ≤ 2^(1/k) − 1 per estimate, like the base sketch.

    Shape: one map-side-combinable (group, bucket) count agg, then the
    quantile walk runs on the HISTOGRAM relation (groups × ≤ k·64+1
    buckets): a per-group cumulative window, a ×|qs| explode of the
    bucket rows, and a min-bucket-at-rank agg. The corpus is touched
    once; everything after is histogram-sized."""
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    v = F.col(value_col).cast("double")
    bucket = F.when(v <= 0, F.lit(_LOG_MIN_BUCKET)) \
        .otherwise(F.floor(F.lit(k) * F.log2(v)).cast("long"))
    hist = (df.select(F.col(by), bucket.alias("bucket"))
            .groupBy(by, "bucket").agg(F.count("*").alias("cnt")))
    w_cum = (Window.partitionBy(by).orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy(by)
    cum = (hist.withColumn("_cum", F.sum("cnt").over(w_cum))
           .withColumn("_tot", F.sum("cnt").over(w_all)))
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    est = F.when(F.col("bucket") == _LOG_MIN_BUCKET, F.lit(0.0)) \
        .otherwise(F.pow(F.lit(2.0), (F.col("bucket") + 0.5) / F.lit(k)))
    return (cum.select(by, "bucket", "_cum", "_tot", qcol)
            .filter(F.col("_cum") >= F.col("q") * F.col("_tot"))
            .groupBy(by, "q")
            .agg(F.min("bucket").alias("_b"),
                 F.min_by(est, F.col("bucket")).alias("est"))
            .drop("_b")
            .select(by, "q", F.round(F.col("est") + 1e-9, 6).alias("est")))
