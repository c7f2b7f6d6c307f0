"""The benchmark's own tests.

    python3 perfbench/selftest.py faults   # each checker rejects a planted fault
    python3 perfbench/selftest.py smoke    # tiny run of every workload, both
                                           # modes, plus an interrupted run

``faults`` runs ``run_kg`` once on the tiny kg_build input, checks that the
checkers accept the real output (canonical triples, status rows, edges and
entities), then plants one fault at a time in a copy of it and requires
the matching checker to reject it. ``smoke`` drives
``run.py`` end to end and requires a result line, exit code 0, and no
process or temp dir left behind, including after a SIGINT mid-run.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
from run import WORKLOADS, proc_stat, session_members  # noqa: E402


def _fail(msg: str) -> None:
    print(f"selftest FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def _program_output(tmp: str):
    """Inputs and outputs of one tiny run_kg, as pandas frames."""
    from pyspark.sql import functions as F

    from smart_pdf_md_spark.operators.extract import file_status
    from smart_pdf_md_spark.plans.driver import run_kg
    from smart_pdf_md_spark.session import build_session

    path = inputs.workload_inputs("kg_build", 1, "tiny")["files"]
    rows = inputs.read_rows([path])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    spark = build_session(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")})
    try:
        res = run_kg(spark, spark.read.parquet(path), os.path.join(tmp, "kg"))
        fids = checks.sample_file_ids(rows, 1)
        canonical = (res["triples_canonical"].filter(F.col("file_id").isin(fids))
                     .select("file_id", "subj", "pred", "obj", "content_sha256")
                     .toPandas())
        status = file_status(res["extracted"]).select(
            "file_id", "content_sha256").toPandas()
        edges = res["edges"].select("name_a", "name_b", "cos").toPandas()
        ents = res["entities"].select("name", "canonical_name").toPandas()
    finally:
        spark.stop()
    return rows, canonical, status, fids, edges, ents


def faults() -> None:
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=_tmp_root())
    try:
        rows, canonical, status, fids, edges, ents = _program_output(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if errs := checks.check_triples(rows, canonical, fids):
        _fail(f"real output rejected: {errs}")
    if errs := checks.check_status(rows, status):
        _fail(f"real status rejected: {errs}")
    if errs := checks.check_links(rows, edges, ents, 1):
        _fail(f"real links rejected: {errs}")

    sym = canonical[canonical["pred"] == "DEFINES"].index[0]
    variant = next(v for v in next(g for g in checks.corpus.SYMBOL_GROUPS
                                   if canonical.at[sym, "obj"] in g)
                   if v != canonical.at[sym, "obj"])
    planted = {
        "dropped triple": (checks.check_triples,
                           lambda c, s: (_drop_triple(c), s)),
        "altered canonical sha": (checks.check_triples,
                                  lambda c, s: (_set(c, 0, "content_sha256",
                                                     "0" * 64), s)),
        "split variant group": (checks.check_triples,
                                lambda c, s: (_set(c, c.index.get_loc(sym),
                                                   "obj", variant), s)),
        "altered status sha": (checks.check_status,
                               lambda c, s: (c, _set(s, 0, "content_sha256",
                                                     "f" * 64))),
        "file doubled across appends": (
            checks.check_status,
            lambda c, s: (c, _concat(s, s.iloc[:1]))),
        "file lost across appends": (checks.check_status,
                                     lambda c, s: (c, s.iloc[1:])),
    }
    for name, (checker, plant) in planted.items():
        c, s = plant(canonical.copy(), status.copy())
        errs = (checker(rows, c, fids) if checker is checks.check_triples
                else checker(rows, s))
        if not errs:
            _fail(f"checker accepted planted fault: {name}")
        print(f"ok: {name} rejected ({errs[0][:80]})")

    member = ents[ents["name"] != ents["canonical_name"]].index[0]
    link_faults = {
        "perturbed edge cosine": lambda e, n: (_set(e, 0, "cos", e["cos"].iat[0] + 1e-6), n),
        "edge below threshold": lambda e, n: (_set(e, 0, "cos", 0.5), n),
        "split variant group (entities)": lambda e, n: (
            e, _set(n, n.index.get_loc(member), "canonical_name",
                    n.at[member, "name"])),
        "entity lost": lambda e, n: (e, n.drop(n.index[0])),
        "entity doubled": lambda e, n: (e, _concat(n, n.iloc[:1])),
    }
    for name, plant in link_faults.items():
        e, n = plant(edges.copy(), ents.copy())
        if not (errs := checks.check_links(rows, e, n, 1)):
            _fail(f"check_links accepted planted fault: {name}")
        print(f"ok: {name} rejected ({errs[0][:80]})")


def _drop_triple(canonical):
    """Remove every row of the first (file_id, subj, pred, obj): rows that
    differ only in obj_raw are one triple."""
    key = ["file_id", "subj", "pred", "obj"]
    first = canonical.iloc[0][key]
    return canonical[~(canonical[key] == first).all(axis=1)]


def _set(df, pos: int, col: str, value):
    df.iloc[pos, df.columns.get_loc(col)] = value
    return df


def _concat(a, b):
    import pandas as pd
    return pd.concat([a, b], ignore_index=True)


def _tmp_root() -> str:
    path = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(path, exist_ok=True)
    return path


def _left_behind(before: set[str]) -> list[str]:
    return sorted(set(os.listdir(_tmp_root())) - before)


def smoke() -> None:
    base = [sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny",
            "--seed", "1", "--seconds", "2"]
    for workload in WORKLOADS:
        for trace in (0, 1):
            before = set(os.listdir(_tmp_root()))
            t0 = time.perf_counter()
            p = subprocess.run(base + ["--workload", workload, "--trace", str(trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                _fail(f"{workload} trace={trace}: exit {p.returncode}")
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] or not res["metrics"]:
                _fail(f"{workload} trace={trace}: {res}")
            if left := _left_behind(before):
                _fail(f"{workload} trace={trace} left {left}")
            print(f"ok: {workload} trace={trace} in "
                  f"{time.perf_counter() - t0:.0f} s, {res['attempted']} ops")
    # interrupt mid-run: the parent must reap the worker's whole session
    before = set(os.listdir(_tmp_root()))
    p = subprocess.Popen(base + ["--workload", "kg_build", "--trace", "0"],
                         stdout=subprocess.PIPE, text=True)
    time.sleep(15)
    members = _children(p.pid)
    p.send_signal(signal.SIGINT)
    out, _ = p.communicate(timeout=120)
    if p.returncode == 0 or out.strip():
        _fail(f"interrupted run exited {p.returncode} with output {out!r}")
    alive = [pid for pid in members if _alive(pid)]
    if alive or _left_behind(before):
        _fail(f"interrupted run left processes {alive} / "
              f"dirs {_left_behind(before)}")
    print(f"ok: SIGINT after 15 s reaped {len(members)} processes, exit "
          f"{p.returncode}")


def _children(pid: int) -> list[int]:
    """Members of every session led by a child of ``pid``."""
    kids = [int(n) for n in os.listdir("/proc")
            if n.isdigit() and (f := proc_stat(int(n))) and int(f[1]) == pid]
    return [m for k in kids for m in session_members(k)]


def _alive(pid: int) -> bool:
    fields = proc_stat(pid)
    return fields is not None and fields[0] != b"Z"


if __name__ == "__main__":
    if sys.argv[1:] == ["faults"]:
        faults()
    elif sys.argv[1:] == ["smoke"]:
        smoke()
    else:
        _fail("usage: selftest.py faults|smoke")
