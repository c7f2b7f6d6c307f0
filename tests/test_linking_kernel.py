"""The linking kernel on hand-built signatures, no Spark: every candidate
pair comes out once, from the lowest band whose non-hot bucket holds both
names, exactly as a brute-force band check finds it, and the hot-bucket
drop counters count the buckets over MAX_BUCKET."""

from __future__ import annotations

from collections import Counter

import numpy as np

from smart_pdf_md_spark.operators.linking import (
    _A,
    _B,
    _MERSENNE,
    MAX_BUCKET,
    N_BANDS,
    N_PERM,
    _band_keys,
    _bucket_keys,
    _driver_buckets,
    _hash64,
    _name_grams,
    _ngrams,
    _score_buckets,
    _Vectors,
)

R = N_PERM // N_BANDS
N_ROWS = 220


def _slice(sig, i, band):
    return tuple(sig[i, band * R:(band + 1) * R])


def _share(sig, rows, band):
    """Give ``rows`` one bucket in ``band``: copy the first row's slice."""
    rows = list(rows)
    sig[rows, band * R:(band + 1) * R] = sig[rows[0], band * R:(band + 1) * R]


def _fixture():
    rng = np.random.default_rng(11)
    sig = rng.integers(0, _MERSENNE, size=(N_ROWS, N_PERM), dtype=np.int64)
    for band in (1, 4, 9):          # rows 0, 1 collide in several bands
        _share(sig, [0, 1], band)
    # rows 2, 3 share a hot bucket in band 0 (65 members) and a clean one in
    # band 5
    _share(sig, [2, 3] + list(range(150, 150 + MAX_BUCKET - 1)), 0)
    _share(sig, [2, 3], 5)
    _share(sig, range(10, 10 + MAX_BUCKET), 2)           # exactly the cap
    _share(sig, range(80, 80 + MAX_BUCKET + 1), 3)       # one over: dropped
    _share(sig, [12, 90, 160], 7)   # cap-bucket rows that also meet elsewhere
    grams = [rng.choice(40, size=rng.integers(1, 6), replace=False)
             for _ in range(N_ROWS)]
    ptr = np.r_[0, np.cumsum([len(g) for g in grams])]
    gram = np.concatenate([np.sort(g) for g in grams]).astype(np.int64)
    val = rng.random(len(gram)) + 0.1
    row = np.repeat(np.arange(N_ROWS), np.diff(ptr))
    val /= np.sqrt(np.bincount(row, val * val))[row]
    return sig, _Vectors(ptr, gram, val)


def _brute_force(sig, vec):
    """Pairs sharing a bucket of at most MAX_BUCKET members in some band,
    with their dot products; and the drop counters."""
    size = Counter((band, _slice(sig, i, band))
                   for i in range(N_ROWS) for band in range(N_BANDS))
    hot = {k: v for k, v in size.items() if v > MAX_BUCKET}
    w = [dict(zip(vec.gram[vec.ptr[i]:vec.ptr[i + 1]],
                  vec.val[vec.ptr[i]:vec.ptr[i + 1]])) for i in range(N_ROWS)]
    pairs = {}
    for i in range(N_ROWS):
        for j in range(i + 1, N_ROWS):
            if any(_slice(sig, i, band) == _slice(sig, j, band)
                   and (band, _slice(sig, i, band)) not in hot
                   for band in range(N_BANDS)):
                pairs[i, j] = sum(v * w[j].get(g, 0.0) for g, v in w[i].items())
    return pairs, {"dropped_buckets": len(hot),
                   "dropped_band_rows": sum(hot.values())}


def test_kernel_emits_each_pair_once_as_brute_force():
    sig, vec = _fixture()
    keys = _band_keys(sig)
    members, bounds, bands, hot, drops = _driver_buckets(keys)
    a, b, cos = _score_buckets(keys, vec, members, bounds, bands, hot)
    got = list(zip(a.tolist(), b.tolist()))
    want, want_drops = _brute_force(sig, vec)

    assert len(got) == len(set(got))          # no pair twice
    assert set(got) == set(want)
    assert all(i < j for i, j in got)
    assert max(abs(c - want[p]) for p, c in zip(got, cos)) < 1e-12
    assert drops == want_drops == {"dropped_buckets": 2,
                                   "dropped_band_rows": 2 * (MAX_BUCKET + 1)}
    # the planted cases
    assert (0, 1) in want                     # several shared bands, once
    assert (2, 3) in want                     # hot in band 0, clean in band 5
    assert sum(10 <= i and j < 10 + MAX_BUCKET for i, j in got) \
        == MAX_BUCKET * (MAX_BUCKET - 1) // 2
    over = range(80, 80 + MAX_BUCKET + 1)
    assert not any(i in over and j in over for i, j in got)


def test_batched_signatures_match_per_name_minhash():
    """The batched signature of each name equals the per-name MinHash over
    its gram hashes (signature_i = min over grams of (a_i·h + b_i) mod p)."""
    names = ["load_data", "loadData", "LoadData", "x", "", "ab", "abab",
             "héllo_wörld", "a-b_c", None] + [f"fn_{i}_x" for i in range(50)]
    tf = _name_grams(names)
    ref = []
    for nm in names:
        hs = np.array([_hash64(g) for g in _ngrams(nm or "")], dtype=np.int64)
        ref.append(((hs[:, None] * _A[None, :] + _B[None, :])
                    % _MERSENNE).min(axis=0))
    assert (_bucket_keys(tf) == _band_keys(np.array(ref))).all()
    assert (_bucket_keys(tf)[0] == _bucket_keys(tf)[1]).all()  # folded case
