"""M4: per-stage manifest commits, kill/resume, file-level incremental (J4)."""

from __future__ import annotations

import os
import shutil

import pytest

from smart_pdf_md_spark.plans.driver import extract_incremental, run_kg
from smart_pdf_md_spark.plans.manifests import (
    read_stage,
    stage_committed,
    stage_global_digest,
)


@pytest.fixture()
def run_dir(tmp_path):
    return str(tmp_path / "run")


def _data_files(run_dir: str, stage: str) -> dict[str, float]:
    d = os.path.join(run_dir, stage, "data")
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, d)] = os.path.getmtime(p)
    return out


def test_full_run_commits_all_stages(spark, corpus_sdf, run_dir):
    res = run_kg(spark, corpus_sdf, run_dir)
    for stage in ("mentions", "triples", "edges", "entities", "triples_canonical"):
        assert stage_committed(run_dir, stage), stage
        rows, _ = stage_global_digest(spark, run_dir, stage)
        assert rows == read_stage(spark, run_dir, stage).count()
    assert not any(res["resumed"].values())


def test_killed_run_resumes_without_recompute(spark, corpus_sdf, run_dir):
    run_kg(spark, corpus_sdf, run_dir)
    # simulate a kill after 'edges': drop the later stages' commits
    rebuilt = ("entities", "triples_canonical")
    first = {s: stage_global_digest(spark, run_dir, s) for s in rebuilt}
    for stage in rebuilt:
        shutil.rmtree(os.path.join(run_dir, stage))
    before = {s: _data_files(run_dir, s) for s in ("mentions", "triples", "edges")}
    res = run_kg(spark, corpus_sdf, run_dir)
    after = {s: _data_files(run_dir, s) for s in ("mentions", "triples", "edges")}
    assert before == after, "committed stages were rewritten"
    assert res["resumed"] == {"mentions": True, "triples": True, "edges": True,
                              "entities": False, "triples_canonical": False}
    assert stage_committed(run_dir, "triples_canonical")
    # rebuilt from the committed edges, they equal the first run's
    assert {s: stage_global_digest(spark, run_dir, s) for s in rebuilt} == first


@pytest.mark.slow
def test_uncommitted_stage_recomputes(spark, corpus_sdf, run_dir):
    """Kill BETWEEN data write and marker write → stage must recompute."""
    run_kg(spark, corpus_sdf, run_dir)
    os.remove(os.path.join(run_dir, "entities", "_COMMITTED"))
    res = run_kg(spark, corpus_sdf, run_dir)
    assert res["resumed"]["entities"] is False
    assert stage_committed(run_dir, "entities")


@pytest.mark.slow
def test_stale_downstream_recomputes_after_incremental_append(
        spark, corpus_sdf, run_dir):
    """If mentions gets re-committed (incremental append), every downstream
    stage is STALE and must recompute — resume serving triples computed from
    the old input would be silently wrong."""
    half = corpus_sdf.filter("path like 'pkg%'")
    extract_incremental(spark, half, run_dir)
    res1 = run_kg(spark, half, run_dir)
    n1 = res1["triples_canonical"].count()
    assert res1["resumed"]["mentions"] is True  # reused incremental commit

    # more files arrive; mentions re-commits with a new run_id
    m2, n_new = extract_incremental(spark, corpus_sdf, run_dir)
    assert n_new > 0

    res2 = run_kg(spark, corpus_sdf, run_dir)
    assert res2["resumed"]["mentions"] is True
    for stage in ("triples", "edges", "entities", "triples_canonical"):
        assert res2["resumed"][stage] is False, f"{stage} stale but resumed"
    assert res2["triples_canonical"].count() > n1


@pytest.mark.slow
def test_torn_append_is_invisible_until_marker(spark, corpus_sdf, run_dir):
    """Kill AFTER the appended parquet lands but BEFORE the snapshot pointer
    swap (ADVICE r1): the orphan batch must be invisible — pending_inputs
    still sees the new files as pending, and the resumed view + run_id are
    exactly the pre-append snapshot."""
    import json

    from smart_pdf_md_spark.plans.manifests import pending_inputs, stage_run_id
    from smart_pdf_md_spark.sources.tables import with_identity

    half = corpus_sdf.filter("path like 'src/%'")
    m1, _ = extract_incremental(spark, half, run_dir)
    rid1 = stage_run_id(run_dir, "mentions")
    n1 = m1.count()

    # simulate the torn append: a second batch dir exists on disk but the
    # marker still points at the first snapshot
    data_dir = os.path.join(run_dir, "mentions", "data")
    orphan = os.path.join(data_dir, "b_deadbeef")
    committed_batches = json.load(
        open(os.path.join(run_dir, "mentions", "_COMMITTED")))["batches"]
    src_batch = os.path.join(data_dir, committed_batches[0])
    shutil.copytree(src_batch, orphan)

    assert stage_run_id(run_dir, "mentions") == rid1
    assert read_stage(spark, run_dir, "mentions").count() == n1  # orphan unseen

    inputs = with_identity(corpus_sdf).select(
        "repo", "path", "commit", "lang", "content", "file_id")
    n_pending = pending_inputs(inputs, spark, run_dir, "mentions").count()
    assert n_pending == corpus_sdf.count() - half.count()

    # the real re-append commits, bumps the run_id, and GCs the orphan
    m2, n2 = extract_incremental(spark, corpus_sdf, run_dir)
    assert n2 == n_pending
    assert stage_run_id(run_dir, "mentions") != rid1
    assert not os.path.exists(orphan)


def test_incremental_extraction_anti_join(spark, corpus_sdf, run_dir, monkeypatch):
    """J4: already-committed files are NOT re-extracted. Proof: commit half
    the corpus (incl. the poison rows) clean, then poison the extractor for
    the second pass — poison rows must stay ok because they never re-run."""
    half_a = corpus_sdf.filter("path like 'src/%' or path like 'docs/%' or path like 'big/%'")
    m1, n1 = extract_incremental(spark, half_a, run_dir)
    assert n1 == half_a.count()

    monkeypatch.setenv("KG_MOCK_FAIL", "1")
    m2, n2 = extract_incremental(spark, corpus_sdf, run_dir)
    total = corpus_sdf.count()
    assert n2 == total - n1  # only pending files processed
    st = m2.filter("kind = '__file__'").toPandas()
    poison = st[st["path"].str.startswith("src/poison")]
    assert len(poison) == 3 and (poison["status"] == "ok").all(), \
        "committed poison rows were recomputed"
    assert set(st["file_id"]) == {
        r.file_id for r in
        __import__("smart_pdf_md_spark.sources.tables", fromlist=["with_identity"])
        .with_identity(corpus_sdf).select("file_id").collect()
    }

    # third pass: nothing pending
    m3, n3 = extract_incremental(spark, corpus_sdf, run_dir)
    assert n3 == 0


@pytest.mark.slow
def test_kill9_mid_run_resumes_from_last_commit(tmp_path):
    """North-rule resumability, end-to-end: SIGKILL the driver process the
    moment the 'edges' stage commits, then rerun — the committed stages must
    be served from disk untouched (mtimes identical) and only the later
    stages recomputed."""
    import json
    import signal
    import subprocess
    import sys
    import time

    rd = str(tmp_path / "run")
    cmd = [sys.executable, "-m", "smart_pdf_md_spark.run",
           "--corpus-size", "300", "--run-dir", rd, "--master", "local[2]",
           "--no-env-warnings"]
    proc = subprocess.Popen(cmd, cwd="/root/repo",
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    marker = os.path.join(rd, "edges", "_COMMITTED")
    deadline = time.time() + 240
    while time.time() < deadline and not os.path.exists(marker):
        if proc.poll() is not None:
            raise AssertionError("run finished before the kill point")
        time.sleep(0.05)
    assert os.path.exists(marker), "edges never committed"
    proc.send_signal(signal.SIGKILL)
    proc.wait()

    committed = [s for s in ("mentions", "triples", "edges", "entities",
                             "triples_canonical")
                 if stage_committed(rd, s)]
    assert "edges" in committed
    assert "triples_canonical" not in committed  # we really did die mid-run
    before = {s: _data_files(rd, s) for s in committed}

    r = subprocess.run(cmd + ["--summary-json", str(tmp_path / "s.json")],
                       cwd="/root/repo", capture_output=True, text=True,
                       timeout=600)
    summary = json.load(open(tmp_path / "s.json"))
    assert all(summary["resumed"][s] for s in committed), summary["resumed"]
    assert summary["triples"] > 0
    after = {s: _data_files(rd, s) for s in committed}
    assert before == after, "committed stages were rewritten on resume"
    assert stage_committed(rd, "triples_canonical")


def test_concurrent_appends_lose_nothing(spark, run_dir):
    """Two writers appending to the same stage concurrently: without the
    per-stage commit lock both read the same prior snapshot and the second
    pointer swap drops the first's batch (lost update) — with it, all three
    batches (base + both appends) survive in the final snapshot."""
    import threading

    from smart_pdf_md_spark.plans.manifests import commit_stage

    stage = "mentions"
    base = spark.createDataFrame([(f"base{i}", i) for i in range(4)],
                                 ["file_id", "val"])
    commit_stage(base, run_dir, stage, key_cols=["file_id"])

    errs = []

    def append(tag):
        try:
            df = spark.createDataFrame([(f"{tag}{i}", i) for i in range(3)],
                                       ["file_id", "val"])
            commit_stage(df, run_dir, stage, key_cols=["file_id"],
                         mode="append")
        except Exception as e:  # surface in the main thread
            errs.append(e)

    ts = [threading.Thread(target=append, args=(t,)) for t in ("x", "y")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    got = {r.file_id for r in read_stage(spark, run_dir, stage).collect()}
    assert got == ({f"base{i}" for i in range(4)} |
                   {f"x{i}" for i in range(3)} | {f"y{i}" for i in range(3)})


def test_stale_commit_lock_is_stolen(spark, run_dir):
    """A lock left by a SIGKILLed writer (dead pid) must not wedge the
    stage; a lock held by a LIVE pid must block until timeout."""
    import pytest as _pytest

    from smart_pdf_md_spark.plans.manifests import _commit_lock, commit_stage

    stage = "triples"
    sdir = os.path.join(run_dir, stage)
    os.makedirs(sdir, exist_ok=True)
    with open(os.path.join(sdir, "_COMMIT_LOCK"), "w") as f:
        f.write("999999999")  # no such pid → dead holder → stolen
    df = spark.createDataFrame([("a", 1)], ["file_id", "val"])
    commit_stage(df, run_dir, stage, key_cols=["file_id"])  # must not block
    assert read_stage(spark, run_dir, stage).count() == 1
    assert not os.path.exists(os.path.join(sdir, "_COMMIT_LOCK"))

    with open(os.path.join(sdir, "_COMMIT_LOCK"), "w") as f:
        f.write(str(os.getpid()))  # live holder (us) → honored
    with _pytest.raises(TimeoutError):
        with _commit_lock(sdir, timeout=0.3):
            pass
    os.remove(os.path.join(sdir, "_COMMIT_LOCK"))


def test_recycled_pid_lock_is_stolen(spark, run_dir):
    """A lock whose pid is ALIVE but belongs to a different process (pid
    recycling — the start-time token mismatches) must be stolen, not block
    the full timeout (ADVICE r3). pid 1 always exists and is never us."""
    import json

    from smart_pdf_md_spark.plans.manifests import _commit_lock, _proc_start

    stage = "triples"
    sdir = os.path.join(run_dir, stage)
    os.makedirs(sdir, exist_ok=True)
    path = os.path.join(sdir, "_COMMIT_LOCK")
    assert _proc_start(1) is not None  # /proc is available here
    with open(path, "w") as f:
        json.dump({"pid": 1, "token": "dead", "start": "0"}, f)
    with _commit_lock(sdir, timeout=5.0):  # would TimeoutError pre-fix
        pass
    assert not os.path.exists(path)

    # and a live holder with a MATCHING start token is still honored
    with open(path, "w") as f:
        json.dump({"pid": os.getpid(), "token": "live",
                   "start": _proc_start(os.getpid())}, f)
    with pytest.raises(TimeoutError):
        with _commit_lock(sdir, timeout=0.3):
            pass
    os.remove(path)


def test_lock_published_atomically_with_payload(run_dir):
    """ADVICE r4: the lock must never be observable WITHOUT its payload —
    the old O_EXCL-create-then-write had a window where a waiter read pid 0,
    declared the live holder torn, and stole the lock. Under the hardlink
    publish, the lock file, whenever it exists, always carries a complete
    {pid, token, start} record; an empty lock can only be a legacy torn
    write and is still stolen promptly."""
    import json

    from smart_pdf_md_spark.plans.manifests import _commit_lock, _proc_start

    sdir = os.path.join(run_dir, "triples")
    os.makedirs(sdir, exist_ok=True)
    path = os.path.join(sdir, "_COMMIT_LOCK")
    with _commit_lock(sdir):
        d = json.load(open(path))  # complete payload, atomically visible
        assert d["pid"] == os.getpid()
        assert d["start"] == _proc_start(os.getpid())
        assert d["token"]
        # the claim temp file is consumed by the publish
        assert [f for f in os.listdir(sdir) if ".claim." in f] == []
    assert not os.path.exists(path)

    # legacy torn write (empty file) is still treated as dead and stolen
    open(path, "w").close()
    with _commit_lock(sdir, timeout=5.0):
        pass
    assert not os.path.exists(path)


def test_malformed_commit_marker_raises(run_dir):
    """A `_COMMITTED` marker that is not a JSON object with a run_id, its
    batches, their stats and the schema (a plain run_id string, a JSON
    list, an empty file, a marker without stats/schema) is refused with a
    ValueError naming the file, never read as some other snapshot."""
    sdir = os.path.join(run_dir, "mentions")
    os.makedirs(sdir)
    marker = os.path.join(sdir, "_COMMITTED")
    for raw in ("somerunid", '["b_x"]', '{"batches": []}', "",
                '{"run_id": "r", "batches": ["b_r"]}'):
        with open(marker, "w") as f:
            f.write(raw)
        with pytest.raises(ValueError, match="_COMMITTED"):
            stage_committed(run_dir, "mentions")


@pytest.mark.slow
def test_runlog_edges_stage_carries_drop_metrics(spark, corpus_sdf, run_dir,
                                                 tmp_path):
    """The linking hot-bucket drop counters must reach the machine-readable
    run log on the edges stage line (r3 VERDICT #7) — and must NOT appear on
    a resumed run, where linking never re-ran and the counters would be
    stale module state."""
    import json

    from smart_pdf_md_spark.runlog import JsonRunLog

    log_path = str(tmp_path / "run.log.jsonl")
    rl = JsonRunLog(log_path)
    run_kg(spark, corpus_sdf, run_dir, on_stage=rl.stage_hook())

    def edges_lines():
        with open(log_path) as f:
            return [json.loads(ln) for ln in f
                    if json.loads(ln).get("stage") == "edges"]

    first = edges_lines()
    assert len(first) == 1
    assert first[0]["resumed"] is False
    assert "dropped_buckets" in first[0] and "dropped_band_rows" in first[0]
    assert first[0]["dropped_buckets"] >= 0

    run_kg(spark, corpus_sdf, run_dir, on_stage=rl.stage_hook())  # full resume
    second = edges_lines()[1]
    assert second["resumed"] is True
    assert "dropped_buckets" not in second


def test_run_report_reads_only_manifests(spark, tmp_path):
    """run_report: one row per committed stage with exact row counts, read
    from the commit markers alone — stages report after the data files
    are deleted; uncommitted directories are skipped."""
    import os
    import shutil

    from smart_pdf_md_spark.plans.manifests import commit_stage, run_report

    run_dir = str(tmp_path / "run")
    commit_stage(spark.range(7).selectExpr("id AS doc_id"),
                 run_dir, "alpha", ["doc_id"])
    commit_stage(spark.range(3).selectExpr("id AS doc_id"),
                 run_dir, "beta", ["doc_id"])
    os.makedirs(os.path.join(run_dir, "not_a_stage"))

    got = {r.stage: r for r in run_report(spark, run_dir).collect()}
    assert set(got) == {"alpha", "beta"}
    assert got["alpha"].n_rows == 7 and got["beta"].n_rows == 3
    assert all(r.run_id for r in got.values())
    assert all(r.n_batches == 1 for r in got.values())

    # the markers alone carry the report: nuke the batch data dirs
    for st in ("alpha", "beta"):
        sdir = os.path.join(run_dir, st)
        for f in os.listdir(sdir):
            if f.startswith("batch_") or f == "data":
                shutil.rmtree(os.path.join(sdir, f), ignore_errors=True)
    got2 = {r.stage: r.n_rows for r in run_report(spark, run_dir).collect()}
    assert got2 == {"alpha": 7, "beta": 3}
