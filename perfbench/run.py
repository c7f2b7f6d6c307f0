"""Benchmark entry point: runs one workload in its own process session.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

The parent process sizes the run to the host (``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``), makes a per-run temp dir inside the checkout,
starts ``perfbench/worker.py`` in a new process session, samples the
session's resident memory, and after the worker exits waits for every
remaining member of that session (the Spark JVM can outlive its Python
driver), killing any still alive after a grace period. Whatever way the
run ends (success, failed check, timeout, SIGINT/SIGTERM) it returns only
once no process of the session is left and the temp dir is removed.

The last line of stdout is the result JSON:
``{"correct", "attempted", "failed", "metrics"}``. Worker logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_build", "kg_append")
RUN_DEADLINE_S = 170.0      # hard cap on one run, set-up to teardown
LINGER_GRACE_S = 30.0       # how long session members may outlive the worker
MIN_FREE_DISK_GB = 2.0
MIN_DRIVER_MEM_GB = 2
MAX_DRIVER_MEM_GB = 6       # 6g held a 100k-file run_kg at ~4.0 GB peak RSS
HEADROOM_GB = 2.0           # Python workers + page cache beyond the heap
_PAGE = os.sysconf("SC_PAGE_SIZE")


def proc_stat(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid,
    pgrp, session, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(b")") + 2:].split()


def session_members(sid: int) -> list[int]:
    """Live pids whose session id is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = proc_stat(int(name))
            if fields and int(fields[3]) == sid and fields[0] != b"Z":
                pids.append(int(name))
    return pids


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


def mem_available_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def host_env(tmp: str) -> dict[str, str]:
    """Fit Spark to this host through the package's public env overrides,
    and keep every scratch file inside the run's temp dir. Fails early when
    the host cannot hold a run."""
    cpus = len(os.sched_getaffinity(0))
    avail = mem_available_gb()
    mem_gb = min(MAX_DRIVER_MEM_GB, int((avail - HEADROOM_GB) * 0.5))
    if mem_gb < MIN_DRIVER_MEM_GB:
        raise SystemExit(f"perfbench: {avail:.1f} GB available memory; a run "
                         f"needs {MIN_DRIVER_MEM_GB + 2 * HEADROOM_GB:.0f} GB")
    free = shutil.disk_usage(ROOT).free / 2**30
    if free < MIN_FREE_DISK_GB:
        raise SystemExit(f"perfbench: {free:.1f} GB free disk under {ROOT}; "
                         f"a run needs {MIN_FREE_DISK_GB} GB")
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONUNBUFFERED": "1",
    })
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)  # the worker sets its own conf
    return env


def _kill(sid: int, sig: int) -> None:
    for pid in session_members(sid):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_session(sid: int, grace: float) -> int:
    """Wait up to ``grace`` s for the session to empty, then SIGTERM, then
    SIGKILL. Returns how many members had to be killed; raises if any
    survive SIGKILL."""
    deadline = time.monotonic() + grace
    while session_members(sid) and time.monotonic() < deadline:
        time.sleep(0.05)
    left = session_members(sid)
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not session_members(sid):
            break
        _kill(sid, sig)
        end = time.monotonic() + wait
        while session_members(sid) and time.monotonic() < end:
            time.sleep(0.05)
    if session_members(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL: "
                           f"{session_members(sid)}")
    return len(left)


class RssSampler(threading.Thread):
    """Peak resident memory of a process session, sampled every 0.5 s."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid, self.peak_mb = sid, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.peak_mb = max(self.peak_mb,
                               tree_rss_mb(session_members(self.sid)))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def select_metrics(result: dict, trace: int) -> dict:
    """The metrics BENCHMARK.json lists for this mode, in its order: the
    end-to-end ones untraced, the per-layer ones traced. A layer a workload
    does not reach reads 0; a missing end-to-end metric fails the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    got, out = result["metrics"], {}
    for m in spec:
        if m["name"] in got:
            out[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            print(f"perfbench: no value for {m['name']}", file=sys.stderr)
            result["failed"] += 1
            result["correct"] = False
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a smoke-test input size")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "smart_pdf_md_spark")):
        print(f"perfbench: no smart_pdf_md_spark package under {ROOT}; run "
              f"from a checkout of the repository", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".bench_tmp"))
    proc = sampler = None
    interrupted: list[int] = []

    def on_signal(signum, _frame):
        interrupted.append(signum)
        raise KeyboardInterrupt

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGINT, signal.SIGTERM)}
    result_path = os.path.join(tmp, "result.json")
    killed, steal = 0, 0.0
    try:
        env = host_env(tmp)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size, "--tmp", tmp, "--out", result_path]
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        cpu0 = cpu_times()
        try:
            rc = proc.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_DEADLINE_S:.0f} s",
                  file=sys.stderr)
            _kill(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        cpu1 = [b - a for a, b in zip(cpu0, cpu_times())]
        t_exit = time.monotonic()
        killed = reap_session(proc.pid, LINGER_GRACE_S)
        steal = 100.0 * cpu1[7] / max(sum(cpu1), 1)
        print(f"perfbench: worker exit {rc}; session empty "
              f"{time.monotonic() - t_exit:.2f} s later; host steal "
              f"{steal:.1f}%", file=sys.stderr)
        peak = sampler.stop()
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    except KeyboardInterrupt:
        print(f"perfbench: interrupted ({interrupted})", file=sys.stderr)
        return 130
    finally:
        # nothing the run started may outlive it, on any exit path
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if proc is not None:
            if proc.poll() is None:
                _kill(proc.pid, signal.SIGKILL)
                proc.wait()
            reap_session(proc.pid, 0.0)
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        for s, h in old.items():
            signal.signal(s, h)
    if os.path.exists(tmp):
        print(f"perfbench: temp dir {tmp} could not be removed", file=sys.stderr)
        result["failed"] += 1
        result["correct"] = False
    result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    result["metrics"]["hygiene.killed_after_exit"] = {"value": killed,
                                                      "unit": "count"}
    # CPU time the hypervisor gave to other guests while the run was on: the
    # main source of run-to-run spread on a shared host
    result["metrics"]["host.steal_pct"] = {"value": steal, "unit": "%"}
    result["metrics"] = select_metrics(result, args.trace)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
