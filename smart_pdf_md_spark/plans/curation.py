"""Staged training-data curation pipeline — the LLM-data counterpart of
plans/driver.run_kg, composed entirely from the operators this repo already
ships and committed through the same manifest/resume protocol:

    documents
      → scrub        (PII redaction — textstats.scrub_text)
      → score+filter (quality, repetition ratios, token counts; thresholds)
      → sample       (optional deterministic per-stratum mix)
      → dedup        (MinHash-LSH pairs → transitive clusters → one keeper)
      → chunk        (overlapping token windows — the unit a trainer feeds)

Every stage is a lazy DataFrame plan committed via plans/manifests.py, so a
killed curation run resumes from the last committed stage exactly like the
KG pipeline, and the per-stage commit markers give row-count + digest accounting
for free. All scoring/filtering is scan-side Column exprs; the only
shuffles are the dedup pair generation (banded) and the cluster CC — both
bounded, never all-pairs (operators/dedup.py docstrings).

Exact row accounting per stage is returned in `summary` — at 100 TB a
curation run that cannot say "filtered dropped 12.3%, dedup dropped 4.1%"
is unauditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    decontaminate,
    decontaminate_bloom,
    dedup_clusters,
    dedup_paragraphs,
    duplicate_spans,
    exact_dup_pairs,
    minhash_dedup_pairs,
    remove_spans,
    span_coverage,
)
from ..operators.classifier import (
    pareto_keep,
    quality_classifier_score,
    train_quality_classifier,
)
from ..operators.importance import dsir_logratio, dsir_resample
from ..operators.lm import ppl_buckets
from ..operators.similarity import semdedup
from ..operators.urls import dedup_by_url, filter_blocked_domains
from ..operators.textstats import (
    cap_per_group,
    chunk_documents,
    compression_ratio_col,
    gopher_passes_col,
    mix_corpus,
    quality_cols,
    repetition_cols,
    scrub_cols,
    stratified_sample,
    token_count_cols,
    train_val_split,
    winnow_containment_pairs,
)
from .manifests import run_stage


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    run_dir: str,
    quality_min: float = 0.3,
    dup_line_max: float = 0.5,
    dup_ngram_max: float | None = 0.8,
    max_compression_ratio: float | None = None,
    gopher: bool = False,
    blocked_domains: DataFrame | None = None,
    url_dedup: bool = False,
    url_col: str = "url",
    dedup_threshold: float = 0.9,
    dedup_keep: str = "min_id",
    fractions: dict | None = None,
    max_per_source: int | None = None,
    domain_col: str = "source",
    ppl_keep: tuple | list | None = None,
    ppl_by: str = "lang",
    benchmarks: DataFrame | None = None,
    decontam_n: int = 13,
    decontam_via: str = "exact",
    dedup_lines: bool = False,
    classifier_target: DataFrame | None = None,
    classifier_min_prob: float | None = None,
    classifier_pareto_alpha: float | None = None,
    classifier_train_frac: float | None = None,
    classifier_iters: int = 40,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    dsir_temperature: float = 1.0,
    embeddings: DataFrame | None = None,
    semdedup_eps: float | None = None,
    semdedup_lists: int = 16,
    max_dup_span_fraction: float | None = None,
    remove_dup_spans: bool = False,
    span_min_len: int = 50,
    span_containment: float = 0.3,
    chunk_tokens: int = 100,
    overlap: int = 20,
    val_frac: float | None = None,
    mix_weights: dict | None = None,
    mix_budget_tokens: int | None = None,
    mix_by: str = "source",
    on_stage=None,
) -> dict:
    """docs(doc_id, text, lang, ...) → curated chunks, staged + resumable.

    Returns the stage DataFrames (all committed snapshots), `resumed` flags,
    and a `summary` row with exact per-stage document counts. ``fractions``
    enables the stratified sampling stage ({lang: keep_fraction}); omitted
    strata drop (see stratified_sample — decisions are id-hash-derived, so a
    resumed run keeps the identical sample). ``dup_ngram_max`` is the Gopher
    duplicate-n-gram heuristic the repetition operator exists for (r4
    VERDICT #6): documents whose duplicate-3-gram ratio exceeds it drop in
    the filter stage (None disables). Each stage records a digest of its
    knobs alongside its dep run_ids, so rerunning with different parameters
    REBUILDS the affected stages instead of resuming stale data (ADVICE
    r4). ``benchmarks`` (doc_id-like first column + text) enables the
    decontamination stage: documents sharing any ``decontam_n``-token gram
    with the benchmark set (GPT-3 appendix-C overlap) are dropped between
    filter and dedup — eval answers memorized verbatim in the training set
    are the one corpus defect no downstream metric can surface.
    ``dedup_keep="best_quality"`` switches the dedup stage's keeper from
    the deterministic min-id to the cluster's highest-quality doc (ties
    min id) — the keep-the-best-copy policy published pipelines use;
    participates in the params digest.
    ``max_per_source`` applies the Gopher/MassiveWeb per-domain limit in
    the filter stage (top-n per ``domain_col`` by quality, deterministic
    doc_id tie-break — textstats.cap_per_group): a single template-heavy
    domain cannot dominate the mix no matter how well it scores.
    ``max_compression_ratio`` adds the zlib entropy proxy to the filter
    predicate (textstats.compression_ratio_col — docs whose deflate ratio
    exceeds it are template/boilerplate beyond what the 3-gram window
    sees); the score rides the SAME single scan projection as the other
    families (ArrowEvalPython, still no shuffle/join). ``gopher=True``
    adds the complete Rae et al. 2021 A1.1 rule battery to the same
    predicate (textstats.gopher_passes_col — word-count band, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, stop-word hits), still one scan. ``ppl_keep``
    (e.g. ``("head", "middle")``) enables the CCNet bucket stage between
    filter/clean and dedup: documents are scored by the corpus' own
    unigram LM and only the named per-``ppl_by`` perplexity buckets
    continue (lm.ppl_buckets — the committed stage keeps avg_logprob /
    ppl_rank / ppl_bucket for auditing).

    Three r7 operators plug in as optional committed stages with the same
    manifest/resume/accounting discipline (r7 VERDICT missing #1):

    - ``dsir_target`` + ``dsir_keep`` enable the DSIR stage (Xie et al.
      2023) between the lm stage and dedup: every surviving doc is scored
      by hashed-ngram log importance ratio against the target corpus and
      a deterministic Gumbel-top-``dsir_keep`` resample continues (audit
      columns log_ratio / _gumbel_key committed). The params digest
      covers the target CONTENT (count + order-insensitive hash), so a
      different target rebuilds the stage.
    - ``semdedup_eps`` + ``embeddings`` (a (doc_id, embedding) frame)
      enable the SemDeDup stage (Abbas et al. 2023) after dedup: within
      IVF clusters, docs whose cosine to an already-kept doc exceeds
      1−eps drop; docs WITHOUT an embedding pass through (cannot judge —
      documented, not silent). The digest covers the embedding set's ids.
    - ``max_dup_span_fraction`` and/or ``remove_dup_spans`` enable the
      exact-duplicate-span stage (Lee et al. 2022) last: winnow
      containment candidates (``span_containment``) → duplicate_spans
      (≥ ``span_min_len`` chars) → either DROP docs whose duplicated-char
      fraction exceeds the threshold, or REWRITE the b-sides with
      remove_spans (``remove_dup_spans=True`` — lineage column
      content_sha256 recomputed; span_chars_removed lands in summary).

    ``classifier_target`` + exactly one keep rule enable the GPT-3
    quality-classifier stage (Brown et al. 2020 appendix A —
    operators/classifier.py) between decontamination and the lm stage:
    a logistic regression is trained per run to distinguish the target
    corpus from THIS pool's survivors. Keep rules:
    ``classifier_min_prob`` drops docs below a hard probability floor;
    ``classifier_pareto_alpha`` applies the published stochastic rule
    instead (keep iff Pareto(alpha) draw > 1−prob, hash-deterministic —
    operators/classifier.pareto_keep; alpha=9 is the GPT-3 value).
    ``classifier_train_frac`` trains on a deterministic id-hash sample
    of the pool (the published recipe: train on a sample, score
    everything — at scale 40 GD passes must not touch the full pool).
    Audit column ``prob`` is committed; the params digest covers the
    target content, iteration count, and all three knobs.

    ``blocked_domains`` (one ``domain`` column) and/or ``url_dedup=True``
    + a ``url_col`` on the input enable the URL gate as the FIRST
    committed stage (RefinedWeb ordering): suffix-matched blocked-domain
    drops (operators/urls.filter_blocked_domains — a blocked domain
    blocks its subdomains), then canonical-URL exact dedup (dedup_by_url,
    min-id keeper per normalized URL). The blocklist content and the
    dedup knob ride the params digest; after_urlgate lands in the
    summary.

    Terminal training-set stages (r9): ``val_frac`` commits a
    deterministic train/val ``split`` column over the chunks (doc-keyed —
    every chunk of a doc co-travels; near-dups were already collapsed by
    the dedup stages, so the id-hash split is leakage-safe here);
    ``mix_weights`` + ``mix_budget_tokens`` commit the training-mix stage
    (operators/textstats.mix_corpus) over the train chunks — per-domain
    token totals and epoch counts land in the summary under
    ``mix_domains``, the committed epoch stream is the reproducible
    training input.

    Two more r8 stage knobs: ``dedup_lines=True`` inserts the CCNet
    corpus-wide line-dedup stage (dedup_paragraphs) between scrub and
    filter — boilerplate lines excised BEFORE quality scoring, exactly
    CCNet's ordering, with lines_removed in the summary;
    ``decontam_via="bloom"`` swaps the decontamination gate's exact
    broadcast shingle set for the fixed-size Bloom filter
    (decontaminate_bloom — one-sided the safe way round, for benchmark
    sets too large to broadcast exactly)."""
    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError("dsir_target and dsir_keep must be supplied together")
    clf_knobs = [k for k in (classifier_min_prob, classifier_pareto_alpha)
                 if k is not None]
    if classifier_target is not None and len(clf_knobs) != 1:
        raise ValueError("classifier_target needs exactly one keep rule: "
                         "classifier_min_prob (hard floor) OR "
                         "classifier_pareto_alpha (GPT-3 stochastic)")
    if classifier_target is None and (
            clf_knobs or classifier_train_frac is not None):
        raise ValueError("classifier knobs require classifier_target")
    if (semdedup_eps is not None) and embeddings is None:
        raise ValueError("semdedup_eps requires an embeddings frame")
    if decontam_via not in ("exact", "bloom"):
        raise ValueError(f"unknown decontam_via: {decontam_via!r}")
    if dedup_keep not in ("min_id", "best_quality"):
        raise ValueError(f"unknown dedup_keep: {dedup_keep!r}")
    if (mix_weights is None) != (mix_budget_tokens is None):
        raise ValueError("mix_weights and mix_budget_tokens must be "
                         "supplied together")
    if max_dup_span_fraction is not None and remove_dup_spans:
        # ADVICE r8: build_spans would take the rewrite path and silently
        # ignore the drop threshold — refuse the ambiguous combination
        # up front, before any stage runs
        raise ValueError(
            "max_dup_span_fraction (drop docs over the threshold) and "
            "remove_dup_spans (excise the spans) are mutually exclusive "
            "— pick one intervention per run")
    resumed: dict[str, bool] = {}

    def _note(stage: str) -> None:
        if on_stage is not None:
            on_stage(stage, resumed[stage])

    urlgate = None
    if blocked_domains is not None or url_dedup:
        # the FIRST gate (RefinedWeb ordering — URL filtering precedes
        # every content read): suffix-matched blocked-domain drop,
        # committed so downstream stages depend on its run_id. Requires
        # the url column; the blocklist content rides the params digest.
        if url_col not in docs.columns:
            raise ValueError(
                f"the url gate requires docs to carry {url_col!r}")
        bfp = None
        if blocked_domains is not None:
            r = (blocked_domains.select(
                F.xxhash64(F.lower(F.col("domain"))).alias("h"))
                .agg(F.count("*").alias("n"),
                     F.expr("bit_xor(h)").alias("h")).collect()[0])
            bfp = f"{r.n}:{r.h}"

        def build_urlgate() -> DataFrame:
            out = docs
            if blocked_domains is not None:
                out = filter_blocked_domains(out, blocked_domains,
                                             url_col=url_col)
            if url_dedup:
                # CCNet re-crawl dedup: one doc per canonical URL
                out = (dedup_by_url(out, url_col=url_col)
                       .filter("is_url_keeper")
                       .drop("url_norm", "url_dup_count", "is_url_keeper"))
            return out

        urlgate, resumed["urlgate"] = run_stage(
            spark, run_dir, "urlgate", build_urlgate, ["doc_id"],
            params={"blocklist_fp": bfp, "url_dedup": url_dedup,
                    "url_col": url_col})
        _note("urlgate")

    gate_src = urlgate if urlgate is not None else docs
    cols = ["doc_id", "text", "lang"]
    if max_per_source is not None:
        cols.append(domain_col)
    base = gate_src.select(*cols)

    def build_scrubbed() -> DataFrame:
        # ONE scan-side select (r5 VERDICT what's-wrong #2): the scrub is a
        # pure regexp_replace chain, so reattaching it via a doc_id
        # self-join shuffled the whole document stream twice for nothing;
        # committed schema is unchanged (doc_id, lang, text, was_redacted)
        sc = scrub_cols(F.col("text"))
        extra = [domain_col] if max_per_source is not None else []
        return base.select("doc_id", "lang", *extra,
                           sc["text_scrubbed"].alias("text"),
                           sc["was_redacted"].alias("was_redacted"))

    # the scrubbed OUTPUT SCHEMA depends on max_per_source/domain_col (the
    # domain column rides along only when capping is on), so they belong in
    # its staleness digest (ADVICE r6, medium): resuming a no-cap scrubbed
    # snapshot under a new cap would feed a missing-column frame into
    # cap_per_group; the reverse silently served a stale schema/grouping.
    scrubbed, resumed["scrubbed"] = run_stage(
        spark, run_dir, "scrubbed", build_scrubbed, ["doc_id"],
        deps=["urlgate"] if urlgate is not None else None,
        params={"extra_col": domain_col if max_per_source is not None
                else None})
    _note("scrubbed")

    filter_input, filter_dep = scrubbed, "scrubbed"
    lines_stage = None
    if dedup_lines:
        # CCNet ordering: corpus-wide boilerplate-line excision BEFORE
        # quality scoring, so a doc isn't judged on lines that won't ship
        def build_lines() -> DataFrame:
            return dedup_paragraphs(scrubbed).drop(
                "n_lines", "removed_chars", "was_rewritten",
                "content_sha256")

        lines_stage, resumed["lines"] = run_stage(
            spark, run_dir, "lines", build_lines, ["doc_id"],
            deps=["scrubbed"], params={"dedup_lines": True})
        _note("lines")
        filter_input, filter_dep = lines_stage, "lines"

    def build_filtered() -> DataFrame:
        # all three score families are scan-side Column exprs over the SAME
        # rows → ONE select, zero shuffle (joining the per-family
        # projections instead would shuffle the full document stream once
        # per family; plan-asserted in test_curation.py)
        text = F.col("text")
        score_exprs = {
            "quality": quality_cols(text)["quality"],
            **repetition_cols(text),
            "n_tokens": token_count_cols(text)["n_tokens"],
        }
        if max_compression_ratio is not None:
            score_exprs["compression_ratio"] = compression_ratio_col(text)
        if gopher:
            # the full Rae 2021 A1.1 battery rides the SAME select —
            # still one scan, zero extra exchanges
            score_exprs["gopher_passes"] = gopher_passes_col(text)
        scored = filter_input.select(
            "*", *[v.alias(k) for k, v in score_exprs.items()])
        # n_tokens >= 1: an empty/whitespace doc scores quality exactly 0.3
        # (the punct term alone) and would pass the 0.3 default into the
        # kept set with zero chunks (r5 VERDICT what's-wrong #5)
        keep = (F.col("quality") >= quality_min) & \
            (F.col("dup_line_ratio") <= dup_line_max) & \
            (F.col("n_tokens") >= 1)
        if dup_ngram_max is not None:
            keep = keep & (F.col("dup_ngram_ratio") <= dup_ngram_max)
        if max_compression_ratio is not None:
            keep = keep & (F.col("compression_ratio")
                           <= max_compression_ratio)
        if gopher:
            keep = keep & F.col("gopher_passes")
        kept = scored.filter(keep)
        if fractions:
            kept = stratified_sample(kept, "lang", fractions)
        if max_per_source is not None:
            kept = cap_per_group(kept, domain_col, max_per_source) \
                .drop("group_rank")
        return kept

    filtered, resumed["filtered"] = run_stage(
        spark, run_dir, "filtered", build_filtered, ["doc_id"],
        deps=[filter_dep],
        params={"quality_min": quality_min, "dup_line_max": dup_line_max,
                "dup_ngram_max": dup_ngram_max, "fractions": fractions,
                "max_compression_ratio": max_compression_ratio,
                "max_per_source": max_per_source,
                "gopher": gopher,
                "domain_col": domain_col if max_per_source is not None
                else None})
    _note("filtered")

    upstream, upstream_name = filtered, "filtered"
    if benchmarks is not None:
        def build_clean() -> DataFrame:
            gate = decontaminate_bloom if decontam_via == "bloom" \
                else decontaminate
            dec = gate(upstream, benchmarks, n=decontam_n)
            keep_ids = dec.filter(~F.col("contaminated")) \
                .select(F.col("id").alias("doc_id"))
            return upstream.join(keep_ids, "doc_id", "left_semi")

        # the staleness key must cover the benchmark CONTENT, not just the
        # gram width (ADVICE r5, medium): rerunning the same run_dir with a
        # different benchmark set used to resume the stale clean stage,
        # letting the new set's contaminated docs through. One eval-sized
        # agg (count + order-insensitive content hash sum) at plan time.
        fp = benchmarks.select(
            F.xxhash64(*[F.col(c) for c in benchmarks.columns]).alias("h")) \
            .agg(F.count("*").alias("n"),
                 F.expr("bit_xor(h)").alias("h")).collect()[0]
        clean, resumed["clean"] = run_stage(
            spark, run_dir, "clean", build_clean, ["doc_id"],
            deps=["filtered"],
            params={"decontam_n": decontam_n, "via": decontam_via,
                    "bench_fp": f"{fp.n}:{fp.h}"})
        _note("clean")
        upstream, upstream_name = clean, "clean"

    clf_stage = None
    if classifier_target is not None:
        c_upstream = upstream  # bind, not close over the mutating name

        def build_clf() -> DataFrame:
            # train target-vs-THIS-POOL each run: the negative class is
            # the surviving corpus itself (the GPT-3 recipe's raw side;
            # classifier_train_frac samples it — 40 GD passes touch only
            # the sample, scoring stays one full pass)
            model = train_quality_classifier(
                classifier_target, c_upstream, iters=classifier_iters,
                train_sample_frac=classifier_train_frac)
            scored = quality_classifier_score(c_upstream, model)
            if classifier_min_prob is not None:
                keep = scored.filter(F.col("prob") >= classifier_min_prob)
            else:
                keep = pareto_keep(
                    scored, alpha=classifier_pareto_alpha) \
                    .filter("kept")
            return c_upstream.join(
                keep.select("doc_id", "prob"), "doc_id")

        cfp = classifier_target.select(
            F.xxhash64(*[F.col(c) for c in classifier_target.columns])
            .alias("h"))             .agg(F.count("*").alias("n"),
                 F.expr("bit_xor(h)").alias("h")).collect()[0]
        clf_stage, resumed["classifier"] = run_stage(
            spark, run_dir, "classifier", build_clf, ["doc_id"],
            deps=[upstream_name],
            params={"min_prob": classifier_min_prob,
                    "pareto_alpha": classifier_pareto_alpha,
                    "train_frac": classifier_train_frac,
                    "iters": classifier_iters,
                    "target_fp": f"{cfp.n}:{cfp.h}"})
        _note("classifier")
        upstream, upstream_name = clf_stage, "classifier"

    lm_stage = None
    if ppl_keep is not None:
        lm_upstream = upstream  # bind, not close over the mutating name

        def build_lm() -> DataFrame:
            # CCNet head/middle/tail split over the surviving docs: the
            # LM is the corpus' own unigram distribution (lm.ppl_buckets
            # — ranking runs on the slim (id, stratum, score) relation);
            # the committed stage keeps the scores for auditing
            labeled = ppl_buckets(lm_upstream, by=ppl_by)
            return labeled.filter(F.col("ppl_bucket").isin(*list(ppl_keep)))

        lm_stage, resumed["lm"] = run_stage(
            spark, run_dir, "lm", build_lm, ["doc_id"],
            deps=[upstream_name],
            params={"ppl_keep": sorted(ppl_keep), "ppl_by": ppl_by})
        _note("lm")
        upstream, upstream_name = lm_stage, "lm"

    dsir_stage = None
    if dsir_keep is not None:
        d_upstream = upstream  # bind, not close over the mutating name

        def build_dsir() -> DataFrame:
            scored = dsir_logratio(d_upstream, dsir_target)
            sel = dsir_resample(scored, dsir_keep,
                                temperature=dsir_temperature)
            # inner join keeps the audit columns on the committed stage
            return d_upstream.join(
                sel.select("doc_id", "log_ratio", "_gumbel_key"), "doc_id")

        # staleness key covers the target CONTENT (the bench_fp discipline
        # — ADVICE r5): same run_dir + different target must rebuild
        tfp = dsir_target.select(
            F.xxhash64(*[F.col(c) for c in dsir_target.columns])
            .alias("h")) \
            .agg(F.count("*").alias("n"),
                 F.expr("bit_xor(h)").alias("h")).collect()[0]
        dsir_stage, resumed["dsir"] = run_stage(
            spark, run_dir, "dsir", build_dsir, ["doc_id"],
            deps=[upstream_name],
            params={"dsir_keep": dsir_keep,
                    "temperature": dsir_temperature,
                    "target_fp": f"{tfp.n}:{tfp.h}"})
        _note("dsir")
        upstream, upstream_name = dsir_stage, "dsir"

    def build_kept() -> DataFrame:
        # near-dup channel + exact channel: minhash excludes sub-n-token
        # docs by design (empty docs are not near-dups of each other), so
        # byte-identical short docs collapse via the exact-pair union
        pairs = minhash_dedup_pairs(upstream, threshold=dedup_threshold) \
            .select("id_a", "id_b") \
            .unionByName(exact_dup_pairs(upstream)) \
            .dropDuplicates(["id_a", "id_b"])
        clusters = dedup_clusters(
            pairs, upstream,
            order_col="quality" if dedup_keep == "best_quality" else None)
        return (upstream.join(
            clusters.select(F.col("id").alias("doc_id"), "keeper_id",
                            "cluster_size", "is_keeper"), "doc_id")
            .filter("is_keeper")
            .drop("is_keeper"))

    kept, resumed["kept"] = run_stage(
        spark, run_dir, "kept", build_kept, ["doc_id"],
        deps=[upstream_name],
        params={"dedup_threshold": dedup_threshold,
                "dedup_keep": dedup_keep})
    _note("kept")
    upstream, upstream_name = kept, "kept"

    sem_stage = None
    if semdedup_eps is not None:
        s_upstream = upstream

        def build_semdedup() -> DataFrame:
            emb = embeddings.select("doc_id", "embedding")
            emb_kept = emb.join(s_upstream.select("doc_id"),
                                "doc_id", "left_semi")
            head = emb_kept.select(F.size("embedding").alias("d")).head()
            if head is None:  # no survivor has an embedding — all pass
                return s_upstream
            res = semdedup(emb_kept, eps=semdedup_eps,
                           n_lists=semdedup_lists, id_col="doc_id",
                           vec_col="embedding", dim=int(head["d"]))
            dropped = (res.filter(~F.col("is_keeper"))
                       .select(F.col("id").alias("doc_id")))
            # docs WITHOUT an embedding pass through: absence of evidence
            # is not a duplicate verdict (documented above)
            return s_upstream.join(dropped, "doc_id", "left_anti")

        # the digest covers embedding CONTENT, not just the id set (r8
        # VERDICT next-round #5: changed vectors under identical ids must
        # rebuild the stage, not resume it). xxhash64 hashes the float
        # array natively — one slim (id, vector) column scan per run, the
        # price of a staleness-proof resume.
        efp = embeddings.select(
            F.xxhash64(F.col("doc_id").cast("string"),
                       F.col("embedding")).alias("h")) \
            .agg(F.count("*").alias("n"),
                 F.expr("bit_xor(h)").alias("h")).collect()[0]
        sem_stage, resumed["semdedup"] = run_stage(
            spark, run_dir, "semdedup", build_semdedup, ["doc_id"],
            deps=[upstream_name],
            params={"eps": semdedup_eps, "n_lists": semdedup_lists,
                    "emb_fp": f"{efp.n}:{efp.h}"})
        _note("semdedup")
        upstream, upstream_name = sem_stage, "semdedup"

    spans_stage = None
    if max_dup_span_fraction is not None or remove_dup_spans:
        p_upstream = upstream

        def build_spans() -> DataFrame:
            # anchor pass-through (r8 VERDICT next-round #6): the pair
            # producer's winnow selection rides the anchors relation and
            # the span verifier consumes it — each text winnowed once
            # across the whole stage
            pairs, anch = winnow_containment_pairs(
                p_upstream, threshold=span_containment, emit_anchors=True)
            spans = duplicate_spans(p_upstream, pairs,
                                    min_len=span_min_len, anchors=anch)
            if remove_dup_spans:
                # the Lee et al. intervention: excise, don't drop — the
                # rewritten text + recomputed sha256 are the stage output
                return remove_spans(p_upstream, spans)
            cov = span_coverage(p_upstream, spans)
            drop = (cov.filter(F.col("dup_fraction")
                               > max_dup_span_fraction)
                    .select(F.col("id").alias("doc_id")))
            return p_upstream.join(drop, "doc_id", "left_anti")

        spans_stage, resumed["spans"] = run_stage(
            spark, run_dir, "spans", build_spans, ["doc_id"],
            deps=[upstream_name],
            params={"max_dup_span_fraction": max_dup_span_fraction,
                    "remove_dup_spans": remove_dup_spans,
                    "span_min_len": span_min_len,
                    "span_containment": span_containment})
        _note("spans")
        upstream, upstream_name = spans_stage, "spans"

    chunk_upstream, chunk_dep = upstream, upstream_name

    def build_chunks() -> DataFrame:
        return chunk_documents(chunk_upstream, chunk_tokens=chunk_tokens,
                               overlap=overlap)

    chunks, resumed["chunks"] = run_stage(
        spark, run_dir, "chunks", build_chunks, ["doc_id", "chunk_idx"],
        deps=[chunk_dep],
        params={"chunk_tokens": chunk_tokens, "overlap": overlap})
    _note("chunks")

    # terminal training-set stages (r8 VERDICT next-round #7): the split
    # assignment and the training mix are COMMITTED artifacts — a user
    # resuming the run reproduces the exact split and epoch stream, not a
    # hand-rolled afterthought on top of the chunks snapshot.
    split_stage = None
    if val_frac is not None:
        def build_split() -> DataFrame:
            # keyed on doc_id: every chunk of a doc co-travels, and
            # near-dup clusters were already collapsed to one keeper by
            # the dedup/semdedup stages upstream, so the id-hash split is
            # leakage-safe to this pipeline's own dedup standard (the
            # standalone train_val_split(clusters=...) form exists for
            # corpora that did NOT dedup first)
            return train_val_split(chunks, val_frac=val_frac)

        split_stage, resumed["split"] = run_stage(
            spark, run_dir, "split", build_split,
            ["doc_id", "chunk_idx"], deps=["chunks"],
            params={"val_frac": val_frac})
        _note("split")

    mix_stage = None
    if mix_weights is not None:
        def build_mix() -> DataFrame:
            # mix the TRAIN side when a split exists (eval chunks must
            # never gain epochs); domains ride in from the doc-level
            # upstream (chunks carry only doc_id/chunk_idx/text/len)
            base = (split_stage.filter(F.col("split") == "train")
                    if split_stage is not None else chunks)
            # domain is an INPUT attribute (the scrub stage projects it
            # away): read it from the original docs frame
            dom = docs.select("doc_id", mix_by)
            mixable = (base.join(dom, "doc_id")
                       .withColumn("_mix_id",
                                   F.concat_ws(":", "doc_id", "chunk_idx")))
            return mix_corpus(mixable, mix_weights, mix_budget_tokens,
                              by=mix_by, token_col="chunk_len",
                              id_col="_mix_id").drop("_mix_id")

        mix_stage, resumed["mix"] = run_stage(
            spark, run_dir, "mix", build_mix,
            ["doc_id", "chunk_idx", "epoch"],
            deps=["split"] if val_frac is not None else ["chunks"],
            params={"weights": mix_weights,
                    "budget_tokens": mix_budget_tokens, "by": mix_by})
        _note("mix")

    # one agg per committed stage — exact, cheap (reads the snapshots)
    summary = {
        "docs_in": docs.count(),
        "after_filter": filtered.count(),
        "after_dedup": kept.count(),
        "chunks": chunks.count(),
    }
    out = {
        "scrubbed": scrubbed,
        "filtered": filtered,
        "kept": kept,
        "chunks": chunks,
        "resumed": resumed,
        "summary": summary,
    }
    if urlgate is not None:
        summary["after_urlgate"] = urlgate.count()
        out["urlgate"] = urlgate
    if benchmarks is not None:
        summary["after_decontam"] = clean.count()
        out["clean"] = clean
    if lm_stage is not None:
        summary["after_lm"] = lm_stage.count()
        out["lm"] = lm_stage
    if lines_stage is not None:
        summary["lines_removed"] = int(lines_stage.agg(
            F.coalesce(F.sum("n_removed_lines"), F.lit(0))).collect()[0][0])
        out["lines"] = lines_stage
    if clf_stage is not None:
        summary["after_classifier"] = clf_stage.count()
        out["classifier"] = clf_stage
    if dsir_stage is not None:
        summary["after_dsir"] = dsir_stage.count()
        out["dsir"] = dsir_stage
    if sem_stage is not None:
        summary["after_semdedup"] = sem_stage.count()
        out["semdedup"] = sem_stage
    if spans_stage is not None:
        summary["after_spans"] = spans_stage.count()
        if remove_dup_spans:
            summary["span_chars_removed"] = int(spans_stage.agg(
                F.coalesce(F.sum("n_removed_chars"), F.lit(0)))
                .collect()[0][0])
        out["spans"] = spans_stage
    if split_stage is not None:
        sc = {r["split"]: r["n"] for r in split_stage.groupBy("split")
              .agg(F.count("*").alias("n")).collect()}
        summary["train_chunks"] = int(sc.get("train", 0))
        summary["val_chunks"] = int(sc.get("val", 0))
        out["split"] = split_stage
    if mix_stage is not None:
        summary["mix_rows"] = mix_stage.count()
        # per-domain token totals + epoch counts — the audit the mixture
        # table is specified in (Pile/Llama-style recipes)
        summary["mix_domains"] = {
            r[mix_by]: {"tokens": int(r["tokens"]),
                        "epochs": int(r["epochs"])}
            for r in mix_stage.groupBy(mix_by)
            .agg(F.sum("chunk_len").alias("tokens"),
                 (F.max("epoch") + 1).alias("epochs")).collect()}
        out["mix"] = mix_stage
    return out
