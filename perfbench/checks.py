"""Correctness checks computed apart from the Spark program.

Expected values come from the generated rows themselves: ``hashlib`` for
content and file identity, and ``oracle.oracle_triples`` (the package's
single-process pure-Python reference extractor) for a file's triples, with
every symbol mapped to the lexicographic minimum of its
``corpus.SYMBOL_GROUPS`` group, which is what canonicalization must yield.
Linking is checked the same way: the vocabulary from the oracle's
mentions, components by union-find, cosines by plain-Python TF-IDF. Each
checker returns a list of error strings; empty means the check passed.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

import pandas as pd

from smart_pdf_md_spark import corpus
from smart_pdf_md_spark.oracle import oracle_mentions, oracle_triples

CHECK_SAMPLE = 60   # non-fixture files whose triples are checked per run
EDGE_SAMPLE = 100   # linking edges whose cosine is recomputed per run
LINK_THRESHOLD = 0.60  # run_kg's default link_threshold
VOCAB_KINDS = ("def", "call", "doc_entity")
# the split-group and cross-group merge rates tests/test_linking_scale.py holds
MAX_SPLIT_SHARE, MAX_MERGE_SHARE = 0.02, 0.05
CANON = {v: min(g) for g in corpus.SYMBOL_GROUPS for v in g}


def file_id(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(f"{repo}\x1f{path}\x1f{commit}".encode()).hexdigest()


def with_ids(rows: pd.DataFrame) -> pd.DataFrame:
    out = rows.copy()
    out["file_id"] = [file_id(r, p, c) for r, p, c in
                      zip(rows["repo"], rows["path"], rows["commit"])]
    out["sha"] = [hashlib.sha256(t.encode()).hexdigest() for t in rows["content"]]
    return out


def sample_file_ids(rows: pd.DataFrame, seed: int) -> list[str]:
    """Every fixed fixture row plus a seeded sample of the others."""
    fixed = set(corpus.generate_batch(range(corpus.FIXED_ROWS))["path"])
    ids = with_ids(rows)
    is_fixed = ids["path"].isin(fixed)
    rest = sorted(set(ids.loc[~is_fixed, "file_id"]))
    pick = random.Random(f"check:{seed}").sample(rest, min(CHECK_SAMPLE, len(rest)))
    return sorted(set(ids.loc[is_fixed, "file_id"]) | set(pick))


def expected_triples(rows: pd.DataFrame, fids: list[str]) -> set[tuple]:
    """(file_id, subj, pred, obj) the canonical stage must hold for ``fids``."""
    ids = with_ids(rows)
    out: set[tuple] = set()
    for fid, grp in ids[ids["file_id"].isin(fids)].groupby("file_id"):
        gold = oracle_triples(grp[["repo", "path", "commit", "lang", "content"]])
        for s, p, o in gold.itertuples(index=False):
            if p != "IMPORTS":
                o = CANON.get(o, o)
            if p == "CALLS":
                s = CANON.get(s, s)
            out.add((fid, s, p, o))
    return out


def check_triples(rows: pd.DataFrame, canonical: pd.DataFrame,
                  fids: list[str]) -> list[str]:
    """``canonical``: the committed canonical triples of files ``fids``
    (columns file_id, subj, pred, obj, content_sha256)."""
    want = expected_triples(rows, fids)
    got = {tuple(t) for t in
           canonical[["file_id", "subj", "pred", "obj"]].itertuples(index=False)}
    errs = []
    if got != want:
        missing, extra = sorted(want - got), sorted(got - want)
        errs.append(f"canonical triples differ on {len(fids)} files: "
                    f"{len(missing)} missing (e.g. {missing[:2]}), "
                    f"{len(extra)} unexpected (e.g. {extra[:2]})")
    sha = dict(zip(*with_ids(rows)[["file_id", "sha"]].T.values))
    bad = [f for f, s in zip(canonical["file_id"], canonical["content_sha256"])
           if sha.get(f) != s]
    if bad:
        errs.append(f"{len(bad)} canonical triples carry a wrong content_sha256")
    return errs


def check_status(rows: pd.DataFrame, status: pd.DataFrame) -> list[str]:
    """Every input file has exactly one status row, with the sha256 of its
    content; no status row names a file outside the input."""
    ids = with_ids(rows).drop_duplicates("file_id")
    errs = []
    counts = status["file_id"].value_counts()
    doubled = counts[counts > 1]
    if len(doubled):
        errs.append(f"{len(doubled)} files have more than one status row")
    lost = set(ids["file_id"]) - set(counts.index)
    if lost:
        errs.append(f"{len(lost)} input files have no status row")
    foreign = set(counts.index) - set(ids["file_id"])
    if foreign:
        errs.append(f"{len(foreign)} status rows name files not in the input")
    sha = dict(zip(ids["file_id"], ids["sha"]))
    wrong = [f for f, s in zip(status["file_id"], status["content_sha256"])
             if f in sha and sha[f] != s]
    if wrong:
        errs.append(f"{len(wrong)} status rows carry a wrong content_sha256")
    return errs


def _grams(name: str) -> list[str]:
    s = "^" + name.replace("_", "").replace("-", "").lower() + "$"
    return [s] if len(s) < 3 else [s[i:i + 3] for i in range(len(s) - 2)]


def tfidf_cosines(vocab: list[str], pairs: list[tuple[str, str]]) -> list[float]:
    """3-gram TF-IDF cosine of each pair over ``vocab``, in plain Python:
    idf = ln((n + 1) / (df + 1)) + 1, L2-normalized tf·idf vectors."""
    tfs = {v: Counter(_grams(v)) for v in vocab}
    df = Counter(g for c in tfs.values() for g in c)
    idf = {g: math.log((len(vocab) + 1.0) / (d + 1.0)) + 1.0 for g, d in df.items()}
    out = []
    for a, b in pairs:
        wa = {g: t * idf[g] for g, t in tfs[a].items()}
        wb = {g: t * idf[g] for g, t in tfs[b].items()}
        na = math.sqrt(sum(v * v for v in wa.values()))
        nb = math.sqrt(sum(v * v for v in wb.values()))
        out.append(sum(v * wb.get(g, 0.0) for g, v in wa.items()) / (na * nb))
    return out


def check_links(rows: pd.DataFrame, edges: pd.DataFrame,
                entities: pd.DataFrame, seed: int,
                threshold: float = LINK_THRESHOLD) -> list[str]:
    """Linking and entity resolution, from the input rows alone: the
    vocabulary is every def/call/doc-entity name the oracle extracts; each
    appears once in ``entities`` with the minimum name of its component
    (union-find over ``edges``) as ``canonical_name``; variant groups of
    ``SYMBOL_GROUPS`` split and merge below the rates the linking scale
    test holds; a seeded sample of edges carries the plain-Python TF-IDF
    cosine (within 1e-9), at least ``threshold``."""
    ment = oracle_mentions(rows)
    vocab = sorted(set(ment.loc[ment["kind"].isin(VOCAB_KINDS), "name"]))
    errs = []
    counts = entities["name"].value_counts()
    if (counts > 1).any() or set(counts.index) != set(vocab):
        errs.append(f"entity names differ from the vocabulary: "
                    f"{len(set(vocab) - set(counts.index))} missing, "
                    f"{len(set(counts.index) - set(vocab))} unexpected, "
                    f"{int((counts > 1).sum())} repeated")
    parent = {v: v for v in vocab}

    def find(x: str) -> str:
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in zip(edges["name_a"], edges["name_b"]):
        if a in parent and b in parent:
            ra, rb = sorted((find(a), find(b)))
            parent[rb] = ra
    wrong = [n for n, c in zip(entities["name"], entities["canonical_name"])
             if n in parent and find(n) != c]
    if wrong:
        errs.append(f"{len(wrong)} names have a canonical_name other than "
                    f"their component's minimum (e.g. {wrong[:2]})")
    canon = dict(zip(entities["name"], entities["canonical_name"]))
    groups = [[v for v in g if v in canon] for g in corpus.SYMBOL_GROUPS]
    groups = [g for g in groups if len(g) > 1]
    split = sum(len({canon[v] for v in g}) > 1 for g in groups)
    group_of = {v: i for i, g in enumerate(groups) for v in g}
    spans: dict[str, set] = {}
    for v, c in canon.items():
        if v in group_of:
            spans.setdefault(c, set()).add(group_of[v])
    merged = sum(len(gs) > 1 for gs in spans.values())
    if groups and (split / len(groups) >= MAX_SPLIT_SHARE
                   or merged / len(groups) >= MAX_MERGE_SHARE):
        errs.append(f"{split}/{len(groups)} variant groups split, {merged} "
                    f"entities merge groups")
    edges = edges.sort_values(["name_a", "name_b"]).reset_index(drop=True)
    rng = random.Random(f"edges:{seed}")
    idx = rng.sample(range(len(edges)), min(EDGE_SAMPLE, len(edges)))
    sample = edges.iloc[sorted(idx)]
    pairs = list(zip(sample["name_a"], sample["name_b"]))
    if any(a not in parent or b not in parent for a, b in pairs):
        errs.append("an edge names a word outside the vocabulary")
        return errs
    bad = [(a, b, c, w) for (a, b), c, w in
           zip(pairs, sample["cos"], tfidf_cosines(vocab, pairs))
           if abs(c - w) > 1e-9 or c < threshold]
    if bad:
        errs.append(f"{len(bad)} of {len(pairs)} sampled edges disagree with "
                    f"the plain-Python TF-IDF cosine or fall below "
                    f"{threshold} (e.g. {bad[:1]})")
    return errs
