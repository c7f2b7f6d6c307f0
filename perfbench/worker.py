"""One workload run inside a fresh Spark session (started by run.py).

Untraced runs (``--trace 0``) report the end-to-end metrics; traced runs
(``--trace 1``) turn the event log on, materialize each layer boundary,
label every job with its layer and report the per-layer metrics. Every
timing is taken here, around calls into the package's public functions.
The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
from tracing import Tracer, event_log_counters  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table  # noqa: E402
from smart_pdf_md_spark.operators.extract import (  # noqa: E402
    FILE_MARKER,
    file_status,
    mentions_only,
)
from smart_pdf_md_spark.operators.linking import (  # noqa: E402
    candidate_pairs,
    checkpointed_vocabulary,
    link_edges,
)
from smart_pdf_md_spark.plans.driver import (  # noqa: E402
    MENTION_KEYS,
    extract_incremental,
    run_kg,
)
from smart_pdf_md_spark.plans.manifests import (  # noqa: E402
    commit_stage,
    pending_inputs,
    read_stage,
    stage_committed,
)
from smart_pdf_md_spark.plans.pipeline import (  # noqa: E402
    build_mentions,
    triples_from_mentions,
)
from smart_pdf_md_spark.session import build_session  # noqa: E402
from smart_pdf_md_spark.sources.tables import with_identity  # noqa: E402

N_SETUPS = 3
T0 = time.perf_counter()
STAGES = ["mentions", "triples", "edges", "entities", "triples_canonical"]
# layers whose jobs are labelled in a traced run; each gets .tasks and
# .task_failures from the event log
LAYERS = ["session.start", "extract", "pipeline.triples", "linking.vocab",
          "linking.link", "linking.candidates", "cc.entities", "cc.canonical",
          "manifests.pending", "manifests.commit"] + [
          f"driver.stage.{s}" for s in STAGES]


class Run:
    """State of one run: session, tracer, counters, metrics."""

    def __init__(self, args):
        self.args = args
        self.tmp = args.tmp
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, dict] = {}
        self.tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self._dirs = 0

    # -- bookkeeping ------------------------------------------------------
    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    def op(self, ok: bool = True, error: str | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(error or "operation failed")

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - T0:6.1f} s {msg}",
              file=sys.stderr, flush=True)

    def check(self, errs: list[str]) -> None:
        self.op(not errs, "; ".join(errs))

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        path = os.path.join(self.tmp, f"{kind}-{self._dirs:03d}")
        os.makedirs(path)
        return path

    # -- session ----------------------------------------------------------
    def conf(self) -> dict[str, str]:
        jtmp = f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}"
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": jtmp}
        if self.args.trace:
            log_dir = os.path.join(self.tmp, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    def setup(self, warm_paths: list[str]) -> None:
        """N_SETUPS session starts, each followed by the input warm-up (a
        scan of every input file). The first start launches the JVM; the
        later ones restart the Spark context on it. setup_s is the median."""
        starts, totals = [], []
        for k in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = build_session(app_name=f"perfbench-{self.args.workload}",
                                       extra_conf=self.conf())
            self.tracer.spark = self.spark
            t1 = time.perf_counter()
            with self.tracer.span("session.start"):
                n = self.spark.read.parquet(*warm_paths).count()
            totals.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            self.tracer.add("session.build", t0, t1)
            self.op(n > 0, "input warm-up read no rows")
        self.log(f"set-ups {[round(t, 2) for t in totals]}")
        self.put("setup_s", statistics.median(totals), "s")
        self.put("session.start_s", statistics.median(starts), "s")
        self.put("session.jvm_start_s", starts[0], "s")

    # -- traced run_kg ----------------------------------------------------
    def run_kg(self, files, run_dir: str, span: str) -> tuple[dict, float]:
        """run_kg with per-stage spans: each on_stage callback closes the
        finished stage's span and relabels the jobs of the next stage."""
        mark = [time.perf_counter()]
        stage_s: dict[str, float] = {}

        def on_stage(stage, resumed, metrics=None):
            now = time.perf_counter()
            stage_s[stage] = now - mark[0]
            self.tracer.add(f"driver.stage.{stage}", mark[0], now)
            nxt = STAGES.index(stage) + 1
            self.tracer.label(f"driver.stage.{STAGES[nxt]}"
                              if nxt < len(STAGES) else span)
            mark[0] = now

        with self.tracer.span(span) as rec:
            self.tracer.label(f"driver.stage.{STAGES[0]}")
            mark[0] = time.perf_counter()
            res = run_kg(self.spark, files, run_dir, on_stage=on_stage)
        self.op(len(stage_s) == len(STAGES),
                f"run_kg reported stages {sorted(stage_s)}")
        self.last_stage_s = stage_s
        self.log(f"{span} {rec['end'] - rec['start']:.2f} s")
        return res, rec["end"] - rec["start"]

    # -- checks -----------------------------------------------------------
    def check_run_dir(self, rows, run_dir: str) -> None:
        fids = checks.sample_file_ids(rows, self.args.seed)
        canon = (read_stage(self.spark, run_dir, "triples_canonical")
                 .filter(F.col("file_id").isin(fids))
                 .select("file_id", "subj", "pred", "obj", "content_sha256")
                 .toPandas())
        self.check(checks.check_triples(rows, canon, fids))
        status = file_status(read_stage(self.spark, run_dir, "mentions")) \
            .select("file_id", "content_sha256").toPandas()
        self.check(checks.check_status(rows, status))
        edges = read_stage(self.spark, run_dir, "edges") \
            .select("name_a", "name_b", "cos").toPandas()
        ents = read_stage(self.spark, run_dir, "entities") \
            .select("name", "canonical_name").toPandas()
        self.check(checks.check_links(rows, edges, ents, self.args.seed))
        self.log("checks done")

    # -- layer-by-layer pass (traced runs) ---------------------------------
    def layer_pass(self, mentions) -> None:
        """Each layer's public call, materialized at its boundary."""
        sp = self.tracer.span
        with sp("pipeline.triples") as r:
            triples = triples_from_mentions(mentions).persist()
            n_triples = triples.count()
        self.put("pipeline.triples_s", r["end"] - r["start"], "s")
        self.put("pipeline.triples", n_triples, "count")
        with sp("linking.vocab") as r:
            names = checkpointed_vocabulary(mentions)
            n_names = names.count()
        self.put("linking.vocab_s", r["end"] - r["start"], "s")
        self.put("linking.names", n_names, "count")
        with sp("linking.link") as r:
            edges = link_edges(mentions, names=names).persist()
            n_edges = edges.count()
        self.put("linking.link_s", r["end"] - r["start"], "s")
        self.put("linking.edges", n_edges, "count")
        with sp("linking.candidates"):
            n_pairs = candidate_pairs(names).count()
        self.put("linking.candidate_pairs", n_pairs, "count")
        self.put("linking.edge_yield", n_edges / n_pairs if n_pairs else 0.0,
                 "ratio")
        with sp("cc.entities") as r:
            ents = entity_table(mentions, edges, names=names).persist()
            n_ents = ents.count()
        self.put("cc.entities_s", r["end"] - r["start"], "s")
        self.put("cc.entities", n_ents, "count")
        self.put("cc.components",
                 ents.select("canonical_name").distinct().count(), "count")
        with sp("cc.canonical") as r:
            canon = canonical_triples(triples, ents, edges)
            n_canon = canon.count()
        self.put("cc.canonical_s", r["end"] - r["start"], "s")
        self.put("cc.canonical_triples", n_canon, "count")
        self.op(n_canon > 0 and n_ents == n_names,
                f"layer pass: {n_canon} canonical triples, {n_ents} entities "
                f"for {n_names} names")
        for df in (triples, edges, ents):
            df.unpersist()

    def extract_layer(self, files) -> tuple:
        """build_mentions materialized into the cache through the noop sink
        (no exchange, so extract.shuffle_write_mb reads 0 on the direct
        path); the counts are taken outside the span."""
        with self.tracer.span("extract") as r:
            ext = build_mentions(self.spark, files).persist()
            ext.write.format("noop").mode("overwrite").save()
        n_files = ext.filter(F.col("kind") == FILE_MARKER).count()
        return ext, r["end"] - r["start"], n_files, ext.count() - n_files

    # -- workloads --------------------------------------------------------
    def kg_build(self, paths: dict[str, str]) -> None:
        rows = inputs.read_rows([paths["files"]])
        self.setup([paths["files"]])
        files = self.spark.read.parquet(paths["files"])
        cold_dir = self.fresh_dir("kg")
        _, cold = self.run_kg(files, cold_dir, "driver.run_kg.cold")
        self.put("cold_pass_s", cold, "s")
        self.check_run_dir(rows, cold_dir)
        if self.args.trace:
            _, warm = self.run_kg(files, self.fresh_dir("kg"), "driver.run_kg.warm")
            self.put("trace.warm_pass_s", warm, "s")
            self.stage_metrics()
            ext, busy, n_files, n_mentions = self.extract_layer(files)
            self.put("extract.busy_s", busy, "s")
            self.put("extract.files", n_files, "count")
            self.put("extract.mentions", n_mentions, "count")
            self.op(n_files == len(rows), f"extract saw {n_files} of {len(rows)} files")
            self.layer_pass(mentions_only(ext))
            ext.unpersist()
            return
        warm = self.timed_rounds(
            lambda: self.run_kg(files, self.fresh_dir("kg"),
                                "driver.run_kg.warm")[1])
        self.put("files_per_s", len(rows) / statistics.median(warm), "1/s")

    def kg_append(self, paths: dict[str, str]) -> None:
        names = list(paths)
        self.setup([paths[n] for n in names])
        run_dir = self.fresh_dir("append")
        used = [paths["base"]]
        with self.tracer.span("append.base") as r:
            extract_incremental(self.spark, self.spark.read.parquet(paths["base"]),
                                run_dir)
            self.run_kg(self.spark.read.parquet(*used), run_dir, "driver.run_kg.refresh")
        self.put("cold_pass_s", r["end"] - r["start"], "s")
        rounds = []
        append_s, refresh_s, n_files = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        for name in names[1:]:
            if time.perf_counter() >= t_end:
                break
            used.append(paths[name])
            batch = self.spark.read.parquet(paths[name])
            if self.args.trace:
                append_s.append(self.traced_append(batch, run_dir,
                                                   first=not rounds))
            else:
                with self.tracer.span("append.extract_incremental") as r:
                    _, n_new = extract_incremental(self.spark, batch, run_dir)
                append_s.append(r["end"] - r["start"])
                n_files.append(n_new)
            _, t_refresh = self.run_kg(self.spark.read.parquet(*used), run_dir,
                                       "driver.run_kg.refresh")
            refresh_s.append(t_refresh)
            rounds.append(name)
        self.op(bool(rounds), "no append batch fit in the run")
        rows = inputs.read_rows(used)
        self.check_run_dir(rows, run_dir)
        self.put("append_s", statistics.median(append_s), "s")
        self.put("refresh_s", statistics.median(refresh_s), "s")
        if self.args.trace:
            self.stage_metrics()
            self.put("manifests.bytes_written_mb", _du_mb(os.path.join(run_dir, "mentions")), "MB")
            self.layer_pass(mentions_only(read_stage(self.spark, run_dir, "mentions")))
            return
        per_round = [a + b for a, b in zip(append_s, refresh_s)]
        self.put("files_per_s", sum(n_files) / sum(per_round), "1/s")

    def traced_append(self, batch, run_dir: str, first: bool) -> float:
        """extract_incremental's steps as separate public calls, each
        materialized, so pending-scan, extraction and commit time split."""
        with self.tracer.span("manifests.pending") as r:
            pending = pending_inputs(with_identity(batch), self.spark, run_dir,
                                     "mentions").persist()
            pending.count()
        pending_s = r["end"] - r["start"]
        self._acc("manifests.pending_s", pending_s)
        ext, busy, n_files, n_mentions = self.extract_layer(pending.drop("file_id"))
        self._acc("extract.busy_s", busy)
        self._acc("extract.files", n_files, "count")
        self._acc("extract.mentions", n_mentions, "count")
        mode = "append" if stage_committed(run_dir, "mentions") else "overwrite"
        with self.tracer.span("manifests.commit") as r:
            commit_stage(ext, run_dir, "mentions", MENTION_KEYS, mode=mode)
        commit_s = r["end"] - r["start"]
        if first:
            self.put("manifests.commit_first_s", commit_s, "s")
        self.put("manifests.commit_last_s", commit_s, "s")
        ext.unpersist()
        pending.unpersist()
        return pending_s + busy + commit_s

    def _acc(self, name: str, value: float, unit: str = "s") -> None:
        prev = self.metrics.get(name, {"value": 0})["value"]
        self.put(name, prev + value, unit)

    def timed_rounds(self, fn) -> list[float]:
        """Run ``fn`` (returning its own duration) in whole rounds until
        ``--seconds`` of rounds have elapsed; at least one round."""
        out: list[float] = []
        t_end = time.perf_counter() + self.args.seconds
        while not out or time.perf_counter() < t_end:
            out.append(fn())
        return out

    def stage_metrics(self) -> None:
        for stage in STAGES:
            self.put(f"driver.stage.{stage}_s", self.last_stage_s[stage], "s")

    def finish_trace(self) -> None:
        """After spark.stop(): event-log counters and span self times."""
        counters = event_log_counters(os.path.join(self.tmp, "eventlog"))
        zero = {"tasks": 0, "task_failures": 0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0}
        for layer in LAYERS:
            c = counters.get(layer, zero)
            self.put(f"{layer}.tasks", c["tasks"], "count")
            self.put(f"{layer}.task_failures", c["task_failures"], "count")
        self.put("extract.shuffle_write_mb",
                 counters.get("extract", zero)["shuffle_write_mb"], "MB")
        self.put("linking.shuffle_write_mb", sum(
            counters.get(k, zero)["shuffle_write_mb"]
            for k in ("linking.vocab", "linking.link")), "MB")
        cc = counters.get("cc.canonical", zero)
        self.put("cc.canonical_shuffle_mb", cc["shuffle_write_mb"], "MB")
        self.put("cc.canonical_spill_mb", cc["spill_mb"], "MB")
        for name, s in sorted(self.tracer.self_times().items()):
            self.put(f"self.{name}_s", s, "s")


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    for flag in ("--workload", "--tmp", "--out", "--size"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    args = ap.parse_args()
    run = Run(args)
    paths = inputs.workload_inputs(args.workload, args.seed, args.size)
    run.log("inputs ready")
    try:
        getattr(run, args.workload)(paths)
    finally:
        if run.spark is not None:
            run.spark.stop()
    run.log("session stopped")
    if args.trace:
        run.finish_trace()
    out_dir = os.path.join(ROOT, ".bench_out")
    run.tracer.write(os.path.join(
        out_dir, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": run.metrics}
    with open(args.out + ".part", "w") as f:
        json.dump(result, f)
    os.rename(args.out + ".part", args.out)
    shutil.rmtree(os.path.join(args.tmp, "eventlog"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
