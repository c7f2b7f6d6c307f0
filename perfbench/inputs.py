"""Seeded workload inputs, generated once and cached in the checkout.

Every input is a set of ``corpus.py`` rows: the eight fixed fixture rows
(glob keeper/dropper, giant js, giant broken python, three poison rows, the
empty file) plus a sample of row indices drawn with ``random.Random(seed)``
from ``[8, 10**7)``. A row's content is a pure function of its index, so the
seed alone selects the input. A row whose (repo, path, commit) repeats an
earlier one (a vendored copy landing in the same repo) is dropped, so every
input file has its own identity. The cache key is ``corpus.CORPUS_VERSION``,
the workload, the seed and the size; the cache lives in ``.bench_cache/``
(git-ignored) and is written atomically, so concurrent runs may share it.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile

import pandas as pd

from smart_pdf_md_spark import corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
INDEX_SPACE = 10**7

# files per input, by workload and size
SIZES = {
    "full": {"kg_build": {"files": 600},
             "kg_append": {"base": 300, "batch": 100, "batches": 8}},
    "tiny": {"kg_build": {"files": 40},
             "kg_append": {"base": 30, "batch": 10, "batches": 3}},
}
# Parquet part files per input (rows dealt round-robin). One small file is
# one scan split, and extraction runs scan-side, so a single-file input
# would be extracted by one task however many cores there are.
PARTS = {"files": 8, "base": 4}


def _indices(workload: str, seed: int, size: str) -> dict[str, list[int]]:
    spec = SIZES[size][workload]
    rng = random.Random(f"{workload}:{seed}")
    fixed = list(range(corpus.FIXED_ROWS))
    if workload == "kg_build":
        return {"files": fixed + sorted(rng.sample(range(corpus.FIXED_ROWS,
                                                         INDEX_SPACE),
                                                   spec["files"]))}
    n = spec["base"] + spec["batch"] * spec["batches"]
    drawn = rng.sample(range(corpus.FIXED_ROWS, INDEX_SPACE), n)
    parts = {"base": fixed + sorted(drawn[:spec["base"]])}
    for b in range(spec["batches"]):
        lo = spec["base"] + b * spec["batch"]
        parts[f"batch_{b:03d}"] = sorted(drawn[lo:lo + spec["batch"]])
    return parts


def workload_inputs(workload: str, seed: int, size: str) -> dict[str, str]:
    """{input name: parquet dir} for the workload's inputs, in order."""
    key = f"corpus-v{corpus.CORPUS_VERSION}/{workload}-seed{seed}-{size}"
    final = os.path.join(CACHE, key)
    parts = _indices(workload, seed, size)
    if not os.path.isdir(final):
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".gen-", dir=os.path.dirname(final))
        try:
            seen: set[tuple] = set()
            for name, idx in parts.items():
                # vendored rows can repeat (repo, path, commit); one file
                # identity is kept once, so each input file is distinct
                rows = corpus.generate_batch(idx)
                ids = zip(rows["repo"], rows["path"], rows["commit"])
                keep = [k not in seen and not seen.add(k) for k in ids]
                rows = rows[keep].reset_index(drop=True)
                out = os.path.join(tmp, f"{name}.parquet")
                os.makedirs(out)
                n = PARTS.get(name, 1)
                for p in range(n):
                    rows.iloc[p::n].to_parquet(
                        os.path.join(out, f"part-{p:03d}.parquet"), index=False)
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):  # lost nothing but a race: re-raise
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return {name: os.path.join(final, f"{name}.parquet") for name in parts}


def read_rows(paths: list[str]) -> pd.DataFrame:
    """The generated rows, read back without Spark (for the checkers)."""
    return pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)
