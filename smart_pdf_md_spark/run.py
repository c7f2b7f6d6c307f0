"""CLI driver — the `spark-submit --py-files` entry point.

Replaces the reference's argparse CLI (/root/reference/src/smart_pdf_md/
cli.py:47-355) with the handful of options that survive the Spark mapping
(engines/slices/env plumbing dissolve into the plan; include/exclude globs,
outdir, dry-run, and resume survive).

    spark-submit --py-files smart_pdf_md_spark.zip -m smart_pdf_md_spark.run \
        --corpus /path/repo_files.parquet --run-dir /path/run --out /path/out

Sandbox usage (no cluster): --master local[N] --corpus-size N generates the
deterministic corpus in-flight. Exit codes follow the reference contract
(SURVEY.md §2.7): 0 ok · 1 no input rows · 2 usage · first non-zero file rc
otherwise (A2 semantics).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="smart-pdf-md-spark")
    ap.add_argument("--config", help="TOML/JSON/YAML run config (CLI flags win)")
    ap.add_argument("-E", "--env", action="append", default=None,
                    metavar="KEY=VALUE", dest="env_kv",
                    help="env override; beats the config [env] table "
                         "(repeatable, reference cli.py:415-453 semantics)")
    ap.add_argument("--no-env-warnings", action="store_true",
                    help="suppress unknown-env-key warnings")
    ap.add_argument("--corpus", help="repo_files parquet path or Iceberg table")
    ap.add_argument("--corpus-size", type=int,
                    help="generate the deterministic corpus with N files instead")
    ap.add_argument("--run-dir", help="stage commit/resume dir")
    ap.add_argument("--out", help="final triples parquet (default: run-dir stage)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--include", action="append", default=None)
    ap.add_argument("--exclude", action="append", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("-e", "--engine", default=None,
                    help="force one extractor family (ast|regex) — the "
                         "reference's -e/--engine (cli.py:105-137); an "
                         "unknown value fails every file with rc 9")
    # default applied after the config merge (None = "not set on CLI", so a
    # config-file value can take effect; CLI wins only when explicitly given)
    ap.add_argument("--link-threshold", type=float, default=None)
    ap.add_argument("-t", "--timeout", type=float, default=None,
                    metavar="SEC",
                    help="per-file wall-clock extraction budget; expired "
                         "files get status 'timeout' (rc 9) and the run "
                         "continues. The reference parses -t/--timeout but "
                         "never consults it (cli.py:331-335); here it is "
                         "enforced cooperatively at regex slice boundaries "
                         "and around the single-shot regex / AST parse "
                         "(granularity: one slice or one parse may overrun "
                         "before the check lands; oversized python files "
                         "are size-pre-gated)")
    ap.add_argument("--mode", choices=("kg", "curate"), default="kg",
                    help="kg (default): triple extraction pipeline; "
                         "curate: staged training-data curation over a "
                         "documents parquet (scrub → score/filter → "
                         "optional decontamination → dedup → chunk), same "
                         "commit/resume protocol")
    ap.add_argument("--docs", help="[curate] documents parquet "
                                   "(doc_id, text, lang)")
    ap.add_argument("--benchmarks", help="[curate] benchmark parquet with a "
                                         "text column; enables the "
                                         "decontamination stage")
    ap.add_argument("--quality-min", type=float, default=0.3)
    ap.add_argument("--dup-line-max", type=float, default=0.5)
    ap.add_argument("--dup-ngram-max", type=float, default=0.8,
                    help="[curate] Gopher duplicate-3-gram cut; pass a "
                         "value >= 1 to disable")
    ap.add_argument("--dedup-threshold", type=float, default=0.9)
    ap.add_argument("--dedup-keep", choices=("min_id", "best_quality"),
                    default="min_id",
                    help="[curate] near-dup cluster keeper policy: "
                         "deterministic min id, or the highest-quality "
                         "copy (ties min id)")
    ap.add_argument("--blocked-domains",
                    help="[curate] parquet with a 'domain' column — "
                         "enables the suffix-matched URL gate as the "
                         "first committed stage (requires --url-col on "
                         "the docs)")
    ap.add_argument("--url-dedup", action="store_true",
                    help="[curate] canonical-URL exact dedup in the URL "
                         "gate (min-id keeper per normalized URL)")
    ap.add_argument("--url-col", default="url",
                    help="[curate] URL column name for the URL gate")
    ap.add_argument("--gopher", action="store_true",
                    help="[curate] add the full Gopher/MassiveWeb rule "
                         "battery (Rae 2021 A1.1) to the filter stage")
    ap.add_argument("--dedup-lines", action="store_true",
                    help="[curate] CCNet corpus-wide line dedup before "
                         "quality scoring")
    ap.add_argument("--decontam-via", choices=("exact", "bloom"),
                    default="exact",
                    help="[curate] decontamination gate: exact broadcast "
                         "shingle set, or a fixed-size Bloom filter for "
                         "benchmark sets too large to broadcast")
    ap.add_argument("--classifier-target",
                    help="[curate] target-corpus parquet (doc_id, text); "
                         "with --classifier-min-prob enables the GPT-3 "
                         "quality-classifier stage")
    ap.add_argument("--classifier-min-prob", type=float,
                    help="[curate] drop docs the trained classifier "
                         "scores below this target-likeness probability")
    ap.add_argument("--val-frac", type=float,
                    help="[curate] commit a deterministic leakage-safe "
                         "train/val split over the chunks (split column)")
    ap.add_argument("--mix-weights",
                    help="[curate] JSON {domain: weight} — commit a "
                         "training mix over the (train) chunks; requires "
                         "--mix-budget-tokens")
    ap.add_argument("--mix-budget-tokens", type=int,
                    help="[curate] total token budget for the mix stage")
    ap.add_argument("--mix-by", default="source",
                    help="[curate] domain column for the mix stage "
                         "(default: source)")
    ap.add_argument("--classifier-pareto-alpha", type=float,
                    help="[curate] GPT-3 stochastic keep rule instead of "
                         "the hard floor: keep iff Pareto(alpha) draw > "
                         "1-prob (published alpha=9)")
    ap.add_argument("--classifier-train-frac", type=float,
                    help="[curate] train the classifier on this "
                         "deterministic id-hash fraction of the pool "
                         "(published recipe: train on a sample, score "
                         "everything)")
    ap.add_argument("--dsir-target", help="[curate] target-corpus parquet "
                                          "(doc_id, text); with "
                                          "--dsir-keep enables the DSIR "
                                          "importance-resampling stage")
    ap.add_argument("--dsir-keep", type=int,
                    help="[curate] number of docs the DSIR stage keeps")
    ap.add_argument("--embeddings", help="[curate] (doc_id, embedding) "
                                         "parquet; with --semdedup-eps "
                                         "enables the SemDeDup stage")
    ap.add_argument("--semdedup-eps", type=float,
                    help="[curate] SemDeDup cosine epsilon (drop above "
                         "1-eps within a cluster)")
    ap.add_argument("--max-dup-span-fraction", type=float,
                    help="[curate] drop docs whose exact-duplicate-span "
                         "coverage exceeds this fraction")
    ap.add_argument("--remove-dup-spans", action="store_true",
                    help="[curate] excise duplicated spans (Lee et al. "
                         "intervention) instead of dropping whole docs")
    ap.add_argument("--chunk-tokens", type=int, default=100)
    ap.add_argument("--chunk-overlap", type=int, default=20)
    ap.add_argument("--dry-run", action="store_true",
                    help="build + explain the plan, execute nothing (R5)")
    ap.add_argument("--summary-json", help="write run summary JSON here")
    ap.add_argument("--log-json", metavar="PATH",
                    help="append {ts,level,message} JSON lines per stage "
                         "commit; 1 MB single-backup rotation (S9 parity, "
                         "reference core.py:156-199)")
    ap.add_argument("--failures-out",
                    help="side sink for failed-file status rows; written ONLY "
                         "when failures exist (the reference's tables-count "
                         "gate, core.py:506-521: side artifact appears only "
                         "when the count is non-zero)")
    args = ap.parse_args(argv)

    # stages 2-5 of the reference lifecycle: config file → precedence merge →
    # env application (SURVEY.md §3.2). Config-load failure → rc 2 like the
    # reference (cli.py:371).
    import os

    from .config import load_config_file, merge_config

    cfg = {}
    if args.config:
        try:
            cfg = load_config_file(args.config)
        except Exception as exc:
            print(f"error: cannot load config {args.config}: {exc}", file=sys.stderr)
            return 2
    cli_env: dict[str, str] = {}
    for kv in args.env_kv or []:
        key, sep, val = kv.partition("=")
        if not sep or not key:
            print(f"error: -E expects KEY=VALUE, got {kv!r}", file=sys.stderr)
            return 2
        cli_env[key] = val
    rc_cfg = merge_config({**vars(args), "env": cli_env}, cfg,
                          warn_unknown_env=not args.no_env_warnings)
    for k, v in rc_cfg.env.items():
        os.environ[k] = v  # reaches plan-build (driver) before any session
    args.corpus = rc_cfg.corpus
    args.corpus_size = rc_cfg.corpus_size
    args.run_dir = rc_cfg.run_dir
    args.out = rc_cfg.out
    args.master = rc_cfg.master
    args.include = rc_cfg.include
    args.exclude = rc_cfg.exclude
    args.partitions = rc_cfg.partitions
    args.link_threshold = rc_cfg.link_threshold
    args.dry_run = args.dry_run or rc_cfg.dry_run
    args.engine = rc_cfg.engine

    if args.mode == "curate":
        if not args.docs or not args.run_dir:
            ap.print_usage(sys.stderr)
            return 2
        return _run_curate(args)

    if (not args.corpus and not args.corpus_size) or not args.run_dir:
        ap.print_usage(sys.stderr)
        return 2

    from .corpus import corpus_df
    from .plans.driver import run_kg
    from .plans.pipeline import build_triples
    from .session import build_session
    from .sources.tables import load_repo_files, write_triples

    runlog = None
    if args.log_json:
        from .runlog import JsonRunLog
        runlog = JsonRunLog(args.log_json)

    spark = build_session(app_name="kg-run", master=args.master)
    t0 = time.perf_counter()
    if runlog:
        runlog.log("run start", corpus=args.corpus or f"generated:{args.corpus_size}",
                   run_dir=args.run_dir)
    try:
        repo_files = (
            corpus_df(spark, args.corpus_size)
            if args.corpus_size
            else load_repo_files(spark, args.corpus)
        )
        if args.dry_run:
            plan = build_triples(spark, repo_files, args.include, args.exclude,
                                 forced_route=args.engine,
                                 partitions=args.partitions)
            plan["triples"].explain("formatted")
            return 0

        result = run_kg(spark, repo_files, args.run_dir, args.include,
                        args.exclude, args.link_threshold, args.partitions,
                        on_stage=runlog.stage_hook() if runlog else None,
                        forced_route=args.engine,
                        timeout_sec=args.timeout)
        from .plans.pipeline import run_summary
        s = run_summary(result["status"]).collect()[0]
        n_triples = result["triples_canonical"].count()
        if args.out:
            write_triples(result["triples_canonical"], args.out)
        if args.failures_out:
            # conditional side-write (A6): the failure count is already on
            # the summary row, so the gate costs no extra job; like the
            # reference, a clean run leaves NO side artifact behind
            if s.failures:
                result["status"].filter("rc != 0") \
                    .write.mode("overwrite").parquet(args.failures_out)
                print(f"[info] {s.failures} failures -> {args.failures_out}",
                      file=sys.stderr)
            else:
                print("[info] no failures detected; side sink skipped",
                      file=sys.stderr)
        elapsed = time.perf_counter() - t0
        payload = {
            "total": s.total,
            "failures": s.failures,
            "first_nonzero_rc": s.first_nonzero_rc,
            "triples": n_triples,
            "elapsed_sec": round(elapsed, 3),
            "triples_per_sec": round(n_triples / elapsed, 2),
            "resumed": result["resumed"],
        }
        print(json.dumps(payload))
        if runlog:
            runlog.log("run end", level="INFO", **payload)
        if args.summary_json:
            with open(args.summary_json, "w") as f:
                json.dump(payload, f)
        if s.total == 0:
            return 1
        return int(s.first_nonzero_rc) if s.failures else 0
    finally:
        spark.stop()


def _run_curate(args) -> int:
    """`--mode curate`: the staged curation pipeline as a CLI run.
    Exit codes keep the reference contract shape: 0 ok · 1 no input docs ·
    2 usage (handled by the caller)."""
    from .plans.curation import run_curation
    from .session import build_session

    spark = build_session(app_name="curate-run", master=args.master)
    t0 = time.perf_counter()
    try:
        docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmarks) if args.benchmarks else None
        dup_ngram = args.dup_ngram_max if args.dup_ngram_max < 1 else None
        dsir_target = (spark.read.parquet(args.dsir_target)
                       if args.dsir_target else None)
        embeddings = (spark.read.parquet(args.embeddings)
                      if args.embeddings else None)
        res = run_curation(
            spark, docs, args.run_dir,
            quality_min=args.quality_min, dup_line_max=args.dup_line_max,
            gopher=args.gopher,
            blocked_domains=(spark.read.parquet(args.blocked_domains)
                             if args.blocked_domains else None),
            url_dedup=args.url_dedup,
            url_col=args.url_col,
            dup_ngram_max=dup_ngram, dedup_threshold=args.dedup_threshold,
            benchmarks=bench,
            decontam_via=args.decontam_via, dedup_lines=args.dedup_lines,
            classifier_target=(spark.read.parquet(args.classifier_target)
                               if args.classifier_target else None),
            classifier_min_prob=args.classifier_min_prob,
            classifier_pareto_alpha=args.classifier_pareto_alpha,
            classifier_train_frac=args.classifier_train_frac,
            dsir_target=dsir_target, dsir_keep=args.dsir_keep,
            embeddings=embeddings, semdedup_eps=args.semdedup_eps,
            max_dup_span_fraction=args.max_dup_span_fraction,
            remove_dup_spans=args.remove_dup_spans,
            chunk_tokens=args.chunk_tokens,
            overlap=args.chunk_overlap,
            val_frac=args.val_frac,
            mix_weights=(json.loads(args.mix_weights)
                         if args.mix_weights else None),
            mix_budget_tokens=args.mix_budget_tokens,
            mix_by=args.mix_by)
        if args.out:
            res["chunks"].write.mode("overwrite").parquet(args.out)
        payload = {**res["summary"], "resumed": res["resumed"],
                   "elapsed_sec": round(time.perf_counter() - t0, 3)}
        print(json.dumps(payload))
        if args.summary_json:
            with open(args.summary_json, "w") as f:
                json.dump(payload, f)
        return 0 if payload["docs_in"] else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
