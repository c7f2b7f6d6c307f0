"""Config layer (SURVEY §3.2 stages 2-5) + CLI exit-code contract."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from smart_pdf_md_spark.config import load_config_file, merge_config


def test_key_normalization_and_env_case_preserved(tmp_path):
    p = tmp_path / "run.toml"
    p.write_text(
        'Link-Threshold = 0.7\n"RUN-DIR" = "/tmp/x"\n'
        "[env]\nKG_MOCK_FAIL = \"1\"\nMixedCase = \"y\"\n"
    )
    cfg = load_config_file(p)
    assert cfg["link_threshold"] == 0.7
    assert cfg["run_dir"] == "/tmp/x"
    # [env] keys keep case (reference config.py:33-57 semantics)
    assert cfg["env"] == {"KG_MOCK_FAIL": "1", "MixedCase": "y"}


def test_precedence_cli_beats_config(tmp_path):
    p = tmp_path / "run.toml"
    p.write_text("link_threshold = 0.7\ncorpus_size = 100\n")
    cfg = load_config_file(p)
    rc = merge_config({"link_threshold": 0.9, "corpus_size": None}, cfg)
    assert rc.link_threshold == 0.9  # CLI wins
    assert rc.corpus_size == 100     # config fills the gap
    rc2 = merge_config({"link_threshold": None, "corpus_size": None}, cfg)
    assert rc2.link_threshold == 0.7
    # explicit ZERO on the CLI must still win (0 == False pitfall, ADVICE r1)
    rc3 = merge_config({"link_threshold": 0.0, "corpus_size": 0}, cfg)
    assert rc3.link_threshold == 0.0
    assert rc3.corpus_size == 0


def test_unknown_key_warnings(tmp_path, capsys):
    p = tmp_path / "run.json"
    p.write_text('{"bogus_key": 1, "env": {"NOT_A_KNOB": "x"}}')
    cfg = load_config_file(p)
    rc = merge_config({}, cfg)
    assert any("bogus_key" in w for w in rc.warnings)
    assert any("NOT_A_KNOB" in w for w in rc.warnings)
    rc2 = merge_config({}, cfg, warn_unknown_env=False)
    assert not any("NOT_A_KNOB" in w for w in rc2.warnings)


def test_cli_usage_rc2():
    """Missing input → rc 2 before any JVM spins up (cheap to test)."""
    r = subprocess.run([sys.executable, "-m", "smart_pdf_md_spark.run"],
                       capture_output=True, text=True, cwd="/root/repo",
                       timeout=60)
    assert r.returncode == 2

    r2 = subprocess.run(
        [sys.executable, "-m", "smart_pdf_md_spark.run",
         "--config", "/nonexistent.toml", "--run-dir", "/tmp/x"],
        capture_output=True, text=True, cwd="/root/repo", timeout=60)
    assert r2.returncode == 2
    assert "cannot load config" in r2.stderr


def test_yaml_config_loads_like_toml(tmp_path):
    """Reference accepts .yml/.yaml (config.py:43-48) — so do we."""
    y = tmp_path / "run.yaml"
    y.write_text(
        "Link-Threshold: 0.7\nrun-dir: /tmp/x\n"
        "env:\n  KG_MOCK_FAIL: '1'\n  MixedCase: y\n")
    cfg = load_config_file(y)
    assert cfg["link_threshold"] == 0.7
    assert cfg["run_dir"] == "/tmp/x"
    assert cfg["env"] == {"KG_MOCK_FAIL": "1", "MixedCase": "y"}


def test_cli_env_overrides_beat_config_env(tmp_path):
    """-E KEY=VALUE wins over the config [env] table (cli.py:415-453)."""
    p = tmp_path / "run.toml"
    p.write_text("[env]\nKG_MOCK_FAIL = \"0\"\nSPARK_GRAFT_CPUS = \"8\"\n")
    cfg = load_config_file(p)
    rc = merge_config({"env": {"KG_MOCK_FAIL": "1"}}, cfg,
                      warn_unknown_env=False)
    assert rc.env == {"KG_MOCK_FAIL": "1", "SPARK_GRAFT_CPUS": "8"}


def test_cli_malformed_env_override_rc2():
    r = subprocess.run(
        [sys.executable, "-m", "smart_pdf_md_spark.run",
         "-E", "NOEQUALS", "--run-dir", "/tmp/x", "--corpus-size", "10"],
        capture_output=True, text=True, cwd="/root/repo", timeout=60)
    assert r.returncode == 2
    assert "KEY=VALUE" in r.stderr


@pytest.mark.slow
def test_failures_side_sink_gate(tmp_path):
    """A6 tables-count-gate analogue: the failures side sink is written ONLY
    when failures exist (reference core.py:506-521 writes <stem>.tables.md
    only when camelot found tables)."""
    base = [sys.executable, "-m", "smart_pdf_md_spark.run",
            "--master", "local[2]", "--no-env-warnings"]
    # corpus-size 40 includes empty/binary fixtures → failures > 0
    out = tmp_path / "failures.parquet"
    r = subprocess.run(
        base + ["--corpus-size", "40", "--run-dir", str(tmp_path / "r1"),
                "--failures-out", str(out)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    assert r.returncode != 2, r.stderr[-2000:]
    assert out.exists()
    assert "failures ->" in r.stderr
    # corpus rows 0-2 all extract clean → gate skips the sink entirely
    out2 = tmp_path / "failures2.parquet"
    r2 = subprocess.run(
        base + ["--corpus-size", "3", "--run-dir", str(tmp_path / "r2"),
                "--failures-out", str(out2)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert not out2.exists()
    assert "side sink skipped" in r2.stderr


def test_runlog_rotation_and_format(tmp_path):
    """JsonRunLog: valid {ts,level,message} JSON lines; single-backup
    rotation when the file exceeds the threshold (reference core.py:156-199
    semantics: delete old .1, rename current to .1, start fresh)."""
    import json
    import os

    from smart_pdf_md_spark.runlog import JsonRunLog

    path = tmp_path / "run.log"
    lg = JsonRunLog(str(path), max_bytes=200)
    for i in range(3):
        lg.log(f"msg {i}", stage=f"s{i}")
    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert all({"ts", "level", "message"} <= set(d) for d in lines)
    assert lines[0]["message"] == "msg 0" and lines[0]["level"] == "INFO"
    assert lines[0]["ts"].endswith("+00:00")  # UTC ISO-8601

    # grow past the threshold → next append rotates to .1 and starts fresh
    lg.log("filler " + "x" * 300)
    lg.log("after rotation")
    backup = tmp_path / "run.log.1"
    assert backup.exists()
    assert "filler" in backup.read_text()
    fresh = [json.loads(x) for x in path.read_text().splitlines()]
    assert len(fresh) == 1 and fresh[0]["message"] == "after rotation"
    # a second rotation REPLACES the single backup (never .2)
    lg.log("filler2 " + "y" * 300)
    lg.log("post second rotation")
    assert "filler2" in backup.read_text()
    assert not os.path.exists(str(path) + ".2")


@pytest.mark.slow
def test_cli_log_json_writes_stage_lines(tmp_path):
    """--log-json end-to-end: run start, one line per stage commit, run end
    with the summary payload; resumed rerun logs resumed=True."""
    import json

    log = tmp_path / "run.jsonl"
    base = [sys.executable, "-m", "smart_pdf_md_spark.run",
            "--master", "local[2]", "--no-env-warnings",
            "--corpus-size", "30", "--run-dir", str(tmp_path / "r"),
            "--log-json", str(log)]
    r = subprocess.run(base, capture_output=True, text=True,
                       cwd="/root/repo", timeout=300)
    assert r.returncode in (0, 1, 2, 4, 9), r.stderr[-1500:]
    lines = [json.loads(x) for x in log.read_text().splitlines()]
    assert lines[0]["message"] == "run start"
    stages = [d["stage"] for d in lines if "stage" in d]
    assert stages == ["mentions", "triples", "edges", "entities",
                      "triples_canonical"]
    assert all(d["resumed"] is False for d in lines if "stage" in d)
    assert lines[-1]["message"] == "run end" and "triples" in lines[-1]

    r2 = subprocess.run(base, capture_output=True, text=True,
                        cwd="/root/repo", timeout=300)
    assert r2.returncode == r.returncode
    lines2 = [json.loads(x) for x in log.read_text().splitlines()]
    resumed = [d for d in lines2 if d.get("resumed") is True]
    assert len(resumed) == 5  # second run appended, all stages resumed


@pytest.mark.slow
def test_cli_engine_flag(tmp_path):
    """-e/--engine end-to-end (reference cli.py:105-137): a known family
    forces every routed file through it; an unknown value fails every file
    with rc 9 and the run's exit code follows the first non-zero rc."""
    base = [sys.executable, "-m", "smart_pdf_md_spark.run",
            "--master", "local[2]", "--no-env-warnings", "--corpus-size", "20"]
    r = subprocess.run(
        base + ["--run-dir", str(tmp_path / "r1"), "-e", "regex"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    assert r.returncode in (0, 1, 4), r.stderr[-1500:]

    r2 = subprocess.run(
        base + ["--run-dir", str(tmp_path / "r2"), "--engine", "marker"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    assert r2.returncode == 9, (r2.returncode, r2.stderr[-1500:])


def test_runlog_never_raises(tmp_path):
    """A full disk / bad path must not kill a run over a log line."""
    from smart_pdf_md_spark.runlog import JsonRunLog

    JsonRunLog("/proc/definitely/not/writable/run.log").log("msg")  # no raise
    d = tmp_path / "ro"
    d.mkdir()
    os_mode = d.stat().st_mode
    d.chmod(0o400)
    try:
        JsonRunLog(str(d / "run.log")).log("msg")  # no raise
    finally:
        d.chmod(os_mode)


@pytest.mark.slow
def test_curate_cli_mode(tmp_path):
    """`--mode curate` runs the staged curation pipeline from the CLI:
    summary JSON on stdout, chunks parquet at --out, resumable run_dir,
    rc 0; missing --docs is a usage error (rc 2)."""
    import json as _json

    import pandas as pd

    docs = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the day on the hill was long and the story of it was "
                 "told in the end by all of them " + " ".join(
                     f"w{i}" for i in range(40)),
                 "?!:;", ""],
        "lang": ["en", "en", "en"],
    }).to_parquet(docs, index=False)

    base = [sys.executable, "-m", "smart_pdf_md_spark.run",
            "--mode", "curate", "--master", "local[2]", "--no-env-warnings"]
    out = tmp_path / "chunks.parquet"
    r = subprocess.run(
        base + ["--docs", str(docs), "--run-dir", str(tmp_path / "cur"),
                "--out", str(out)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    payload = _json.loads(r.stdout.strip().splitlines()[-1])
    # the pure-punct doc drops on quality; the empty doc drops on the
    # n_tokens >= 1 gate (r6 — it used to squeak past at quality exactly
    # 0.3 and sit in the kept set with zero chunks)
    assert payload["docs_in"] == 3 and payload["after_filter"] == 1
    assert payload["chunks"] >= 1 and out.exists()
    assert not any(payload["resumed"].values())

    # rerun resumes every committed stage
    r2 = subprocess.run(
        base + ["--docs", str(docs), "--run-dir", str(tmp_path / "cur")],
        capture_output=True, text=True, cwd="/root/repo", timeout=300)
    p2 = _json.loads(r2.stdout.strip().splitlines()[-1])
    assert all(p2["resumed"].values())

    # usage error: no --docs
    r3 = subprocess.run(
        base + ["--run-dir", str(tmp_path / "cur2")],
        capture_output=True, text=True, cwd="/root/repo", timeout=120)
    assert r3.returncode == 2


def test_default_driver_mem_is_half_of_host_capped(monkeypatch):
    """The driver heap defaults to half of physical memory, never above
    32g, so a small host spills instead of being outgrown by its JVM."""
    from smart_pdf_md_spark import session

    gib = 1 << 30

    def host(n_bytes):
        return lambda key: {"SC_PAGE_SIZE": 4096,
                            "SC_PHYS_PAGES": n_bytes // 4096}[key]

    monkeypatch.setattr(session.os, "sysconf", host(15 * gib))
    assert session.default_driver_mem() == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(session.os, "sysconf", host(256 * gib))
    assert session.default_driver_mem() == "32768m"
