"""Per-stage manifest commits + resume (S9/J4/R4 made real).

The reference parses `--resume` and never consults it (cli.py:339-341, the
unused global core.py:47 — verified dead, SURVEY.md §2.7 R4); its only run
record is a rotating log file (core.py:156-199). The north_rule requires the
real thing: "every stage checkpoints per-partition triple counts + sha256
manifests ... so a killed run resumes from the last committed snapshot."

On a real cluster this layer is Iceberg: snapshot-atomic commits, the
manifest table partitioned by run. The sandbox has no Iceberg jar
(SURVEY.md §7), so the same protocol runs on parquet + an atomic marker
file, behind one small interface:

    run_dir/<stage>/data/b_<run_id>/      one immutable batch dir per commit
    run_dir/<stage>/_COMMITTED            JSON snapshot pointer, published
                                          LAST via temp-file + os.replace:
                                          {"run_id", "batches", "stats":
                                          {batch: {"rows", "digest_xxh64"}},
                                          "schema"}
    run_dir/<stage>/_COMMIT_LOCK          per-stage writer lock (hardlink-
                                          published {pid, token, start}
                                          file; dead holders stolen) — the
                                          catalog-CAS stand-in that stops
                                          concurrent appends losing batches

Snapshot semantics (the Iceberg commit protocol on plain parquet): readers
resolve the marker and read ONLY the batch dirs it lists. A run killed
between data-write and marker-write leaves an orphaned batch dir that no
reader ever sees — in particular an interrupted incremental APPEND cannot
poison `pending_inputs` into serving half-committed rows under the old
run_id (ADVICE r1).

The marker is the whole manifest. Each batch's `rows` and `digest_xxh64`
(bit_xor of per-row xxhash64 over the key columns: order-insensitive, so
two runs of the same input compare without sorting — the A4
progress/metrics analogue) are observed on the batch's own write job, and
an append carries the earlier batches' stats forward, so a commit is one
Spark job and never re-reads history. `schema` is the written schema with
every field nullable (what a parquet read returns); readers pass it to
`spark.read.schema`, so no footer-inference job fires, and every metadata
reader (`stage_global_digest`, `verify_stage_digests`, `run_report`) is a
JSON read.

File-level incremental resume (J4): `pending_inputs` anti-joins the input
against the file_ids already present in a committed mentions stage, so an
interrupted extraction pass reprocesses only uncommitted files.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_U64 = (1 << 64) - 1


def _stage_dir(run_dir: str, stage: str) -> str:
    return os.path.join(run_dir, stage)


def _read_marker(run_dir: str, stage: str) -> dict | None:
    """Resolve the committed snapshot pointer; None if not committed.
    Raises ValueError when the marker is not a JSON object with a run_id,
    its batches, their stats and the schema."""
    marker = os.path.join(_stage_dir(run_dir, stage), "_COMMITTED")
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        raw = f.read()
    try:
        d = json.loads(raw)
    except ValueError:
        d = None
    if not (isinstance(d, dict) and "run_id" in d
            and isinstance(d.get("batches"), list)
            and isinstance(d.get("stats"), dict)
            and isinstance(d.get("schema"), dict)
            and all(b in d["stats"] for b in d["batches"])):
        raise ValueError(f"malformed commit marker {marker!r}: expected a "
                         f"JSON object with a run_id, batches, per-batch "
                         f"stats and a schema")
    return d


def _proc_start(pid: int) -> str | None:
    """Kernel start-time ticks of `pid` (/proc/<pid>/stat field 22) — a
    recycling-proof identity token: a reused pid gets a new start time.
    World-readable, so it works for other users' processes too. None when
    the pid does not exist or /proc is unavailable (non-Linux)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        # comm (field 2) may contain spaces/parens — split after the LAST ')'
        return stat.rsplit(")", 1)[1].split()[19]  # field 22, 0-indexed 19
    except (OSError, IndexError):
        return None


def _read_lock(path: str) -> tuple[int, str | None, str | None]:
    """→ (pid, token, start). Accepts the pre-r4 plain-pid format."""
    try:
        raw = open(path).read().strip()
    except OSError:
        return 0, None, None
    try:
        d = json.loads(raw)
        return int(d.get("pid", 0)), d.get("token"), d.get("start")
    except (ValueError, TypeError, AttributeError):
        try:
            return int(raw or "0"), None, None
        except ValueError:
            return 0, None, None


def _holder_dead(pid: int, start: str | None) -> bool:
    """A lock holder is provably dead when its pid is gone, or when the pid
    exists but belongs to a DIFFERENT process (start-time mismatch — pid
    recycling, ADVICE r3). kill(pid, 0) alone can neither distinguish a
    recycled pid nor probe another user's process (PermissionError)."""
    if not pid:
        return True  # unreadable/empty lock: treat as a torn write, steal it
    cur = _proc_start(pid)
    if cur is None:
        # no /proc entry → double-check via signal 0 (covers non-Linux)
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # alive, other user, no /proc — conservatively held
        return False
    if start is not None and cur != start:
        return True  # pid recycled: same number, different process
    return False  # alive (legacy pid-only locks: alive pid ⇒ held)


@contextlib.contextmanager
def _commit_lock(sdir: str, timeout: float = 300.0, poll: float = 0.05):
    """Serialize commits per stage dir — the sandbox stand-in for Iceberg's
    catalog CAS. Without it, two concurrent appends both read the same prior
    snapshot and the second pointer swap silently drops the first's batch
    (classic lost update). The lock is a hardlink-published file recording
    {pid, token, start-time}; a holder that died mid-commit (SIGKILL) — or
    whose pid was recycled by an unrelated process — is detected and stolen.

    Steal protocol (ADVICE r3 race): the stale lock is os.rename'd to a
    unique temp name FIRST — rename is atomic and exactly one contender
    succeeds — then the winner retries the atomic create. The old
    remove-then-create steal let two waiters both observe the dead holder,
    waiter B's remove delete waiter A's freshly created lock, and both
    enter the critical section."""
    os.makedirs(sdir, exist_ok=True)
    path = os.path.join(sdir, "_COMMIT_LOCK")
    token = uuid.uuid4().hex
    payload = json.dumps({"pid": os.getpid(), "token": token,
                          "start": _proc_start(os.getpid())})
    # Publish the lock ATOMICALLY WITH its payload (ADVICE r4): under the
    # old O_EXCL-create-then-write, a waiter polling between the create and
    # the write read pid 0, declared the LIVE holder torn, and stole the
    # lock — two processes in the critical section. os.link() of a fully
    # written claim file fails with FileExistsError exactly like O_EXCL,
    # but the lock is never observable without its payload.
    claim = f"{path}.claim.{token}"
    with open(claim, "w") as f:
        f.write(payload)
    deadline = time.monotonic() + timeout
    try:
        while True:
            try:
                os.link(claim, path)
                break
            except FileExistsError:
                pid, _, start = _read_lock(path)
                if _holder_dead(pid, start):
                    # atomic steal: exactly one renamer wins; losers loop and
                    # find either the winner's fresh lock or nothing
                    with contextlib.suppress(OSError):
                        os.rename(path, f"{path}.stale.{uuid.uuid4().hex}")
                    for f in os.listdir(sdir):
                        if f.startswith("_COMMIT_LOCK.stale."):
                            with contextlib.suppress(OSError):
                                os.remove(os.path.join(sdir, f))
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"stage commit lock busy: {path}")
                time.sleep(poll)
    finally:
        with contextlib.suppress(OSError):
            os.remove(claim)
    try:
        yield
    finally:
        # release only OUR lock: if it was (mis)stolen, the thief's file
        # carries a different token and must survive this cleanup
        _, cur_token, _ = _read_lock(path)
        if cur_token == token:
            with contextlib.suppress(OSError):
                os.remove(path)


def _write_atomic(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)  # atomic publish — the commit point


def stage_committed(run_dir: str, stage: str) -> bool:
    return _read_marker(run_dir, stage) is not None


def stage_run_id(run_dir: str, stage: str) -> str | None:
    m = _read_marker(run_dir, stage)
    return m["run_id"] if m else None


def _deps_path(run_dir: str, stage: str) -> str:
    return os.path.join(_stage_dir(run_dir, stage), "_DEPS.json")


def params_hash(params: dict | None) -> str | None:
    """Canonical digest of the stage-relevant parameters, recorded in
    _DEPS.json under ``__params__``: a committed stage built with DIFFERENT
    knobs (thresholds, fractions, chunk sizes) is stale even when its
    upstream run_ids match — resuming it would silently serve data computed
    under the old knobs (ADVICE r4)."""
    if params is None:
        return None
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()


def stage_fresh(run_dir: str, stage: str, deps: list[str] | None,
                params: dict | None = None) -> bool:
    """Committed AND its recorded upstream run_ids still match the current
    commits AND (when the stage takes parameters) the recorded params digest
    matches — a stage whose input was re-committed (e.g. incremental append
    to mentions) or whose knobs changed is stale and must recompute, or
    resume would silently serve results computed from the old input."""
    if not stage_committed(run_dir, stage):
        return False
    ph = params_hash(params)
    if not deps and ph is None:
        return True
    dp = _deps_path(run_dir, stage)
    if not os.path.exists(dp):
        return False  # legacy commit without dep records → be safe, recompute
    with open(dp) as f:
        recorded = json.load(f)
    if ph is not None and recorded.get("__params__") != ph:
        return False
    return all(recorded.get(d) == stage_run_id(run_dir, d)
               for d in (deps or []))


def _committed_marker(run_dir: str, stage: str) -> dict:
    marker = _read_marker(run_dir, stage)
    if marker is None:
        raise FileNotFoundError(f"stage {stage!r} has no committed snapshot "
                                f"under {run_dir!r}")
    return marker


def _read_batches(spark: SparkSession, run_dir: str, stage: str,
                  marker: dict) -> DataFrame:
    data_dir = os.path.join(_stage_dir(run_dir, stage), "data")
    return spark.read.schema(T.StructType.fromJson(marker["schema"])) \
        .parquet(*[os.path.join(data_dir, b) for b in marker["batches"]])


def read_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    """Committed snapshot only: reads the batch dirs the marker lists, so
    orphaned batches from a killed commit are invisible. The marker's
    schema is passed to the reader, so no inference job fires."""
    return _read_batches(spark, run_dir, stage,
                         _committed_marker(run_dir, stage))


def _nullable(dt: T.DataType) -> T.DataType:
    """`dt` with every field, array element and map value nullable — the
    schema a parquet read returns for data written as `dt`."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def commit_stage(
    df: DataFrame,
    run_dir: str,
    stage: str,
    key_cols: list[str],
    run_id: str | None = None,
    mode: str = "overwrite",
    deps: list[str] | None = None,
    params: dict | None = None,
) -> DataFrame:
    """Write a fresh immutable batch dir, then atomically publish the
    snapshot pointer with the batch's (rows, digest) — observed on the
    write job itself, so the commit is exactly one Spark job. A kill
    anywhere before the pointer swap leaves the previous snapshot fully
    intact and the new batch invisible (no torn append — ADVICE r1).

    `mode='append'` keeps the prior snapshot's batches and their stats in
    the new pointer (O(batch): history is never re-read). The batch's
    column names and types must match the snapshot's (nullability aside),
    or ValueError is raised before anything is written.

    Bound: each append adds one batch dir and nothing compacts them, so a
    stage committed N times is read as N paths. Up to
    `spark.sql.sources.parallelPartitionDiscovery.threshold` (default 32)
    the driver lists them and a read fires no job; from 33 paths on, every
    read of the stage (this function's return value included) fires one
    parallel-listing job (measured: 0 jobs at 32 batches, 1 at 33 and 40).

    Returns the stage read back from the committed snapshot (so downstream
    stages read disk, not the live plan — lineage cut, like the CC
    checkpoints); building that frame fires no job."""
    sdir = _stage_dir(run_dir, stage)
    data_dir = os.path.join(sdir, "data")
    run_id = run_id or uuid.uuid4().hex
    schema = _nullable(df.schema)
    # the whole commit — snapshot read, data write, pointer swap, GC —
    # runs under the per-stage lock so concurrent writers serialize and
    # GC can never collect another writer's in-flight batch
    with _commit_lock(sdir):
        prev = _read_marker(run_dir, stage) if mode == "append" else None
        if prev is not None:
            snap = T.StructType.fromJson(prev["schema"])
            if ({f.name: f.dataType for f in schema.fields}
                    != {f.name: f.dataType for f in snap.fields}):
                raise ValueError(
                    f"append to stage {stage!r} under {run_dir!r}: batch "
                    f"schema {schema.simpleString()} does not match the "
                    f"snapshot's {snap.simpleString()}")

        batch = f"b_{run_id}"
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows"),
                   F.coalesce(F.bit_xor(F.xxhash64(*key_cols)), F.lit(0))
                   .alias("digest")) \
            .write.mode("overwrite").parquet(os.path.join(data_dir, batch))
        got = obs.get

        batches = (prev["batches"] if prev else []) + [batch]
        stats = {**(prev["stats"] if prev else {}),
                 batch: {"rows": got["rows"],
                         "digest_xxh64": f"{got['digest'] & _U64:016x}"}}
        ph = params_hash(params)
        if deps or ph is not None:
            record = {d: stage_run_id(run_dir, d) for d in (deps or [])}
            if ph is not None:
                record["__params__"] = ph
            _write_atomic(_deps_path(run_dir, stage), json.dumps(record))
        marker = {"run_id": run_id, "batches": batches, "stats": stats,
                  "schema": (prev["schema"] if prev
                             else json.loads(schema.json()))}
        _write_atomic(os.path.join(sdir, "_COMMITTED"), json.dumps(marker))
        _gc_stage(sdir, keep_batches=set(batches))
        return _read_batches(df.sparkSession, run_dir, stage, marker)


def _gc_stage(sdir: str, keep_batches: set[str]) -> None:
    """After the pointer swap, drop batch dirs no snapshot references
    (orphans of killed commits, superseded overwrites)."""
    data_dir = os.path.join(sdir, "data")
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            if d not in keep_batches:
                shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)


def run_stage(
    spark: SparkSession,
    run_dir: str,
    stage: str,
    build,  # Callable[[], DataFrame]
    key_cols: list[str],
    force: bool = False,
    deps: list[str] | None = None,
    params: dict | None = None,
) -> tuple[DataFrame, bool]:
    """Resume-or-compute. Returns (stage df, was_resumed). A committed stage
    resumes only while the run_ids of its `deps` stages AND its `params`
    digest are unchanged (ADVICE r4: rerunning with different knobs must
    rebuild, not serve stale data)."""
    if not force and stage_fresh(run_dir, stage, deps, params):
        return read_stage(spark, run_dir, stage), True
    return commit_stage(build(), run_dir, stage, key_cols, deps=deps,
                        params=params), False


def pending_inputs(inputs_with_id: DataFrame, spark: SparkSession,
                   run_dir: str, stage: str) -> DataFrame:
    """J4: inputs not yet present in the committed stage (by file_id). The
    stage is an extraction stage (mentions): its FILE_MARKER status rows
    carry one row per committed file, so the anti-join's build side needs
    no distinct."""
    if not stage_committed(run_dir, stage):
        return inputs_with_id
    from ..operators.extract import FILE_MARKER

    done = read_stage(spark, run_dir, stage) \
        .filter(F.col("kind") == FILE_MARKER).select("file_id")
    return inputs_with_id.join(done, "file_id", "left_anti")


def stage_global_digest(spark: SparkSession, run_dir: str,
                        stage: str) -> tuple[int, int]:
    """(total_rows, global_digest) for a committed stage, folded from the
    marker's per-batch stats. Batch digests are bit_xor over per-row
    xxhash64 of the key columns; XOR is associative/commutative, so their
    fold is a PARTITIONING-INVARIANT whole-stage digest — two runs of the
    same input at any parallelism, or split into different batches,
    produce the same value. A JSON read: `spark` is not used."""
    marker = _committed_marker(run_dir, stage)
    rows = digest = 0
    for b in marker["batches"]:
        st = marker["stats"][b]
        rows += st["rows"]
        digest ^= int(st["digest_xxh64"], 16)
    return rows, digest


def verify_stage_digests(spark: SparkSession, run_dir_a: str, run_dir_b: str,
                         stages: list[str]) -> dict[str, dict]:
    """Cross-run verification (the A4 progress/metrics contract made
    actionable): for each stage, compare row counts and partitioning-
    invariant global digests between two run dirs — the check a 100 TB
    operator runs after a migration, a Spark upgrade, or a cluster resize
    to prove the output is row-identical without reading a single data
    row (commit markers only)."""
    out: dict[str, dict] = {}
    for st in stages:
        ra, da = stage_global_digest(spark, run_dir_a, st)
        rb, db = stage_global_digest(spark, run_dir_b, st)
        out[st] = {"rows_a": ra, "rows_b": rb,
                   "digest_a": f"{da:016x}", "digest_b": f"{db:016x}",
                   "match": ra == rb and da == db}
    return out


def run_report(spark: SparkSession, run_dir: str) -> DataFrame:
    """→ (stage, run_id, n_rows, n_batches) — one row per COMMITTED stage
    under ``run_dir``, read entirely from the commit markers (no data
    files touched, no Spark job): the audit view a pipeline operator
    queries to answer "what has this run_dir committed, how big is each
    stage, and under which run_id" — for curation runs this is the
    per-stage drop accounting without recomputing any count. Stages are
    discovered from the directory (anything with a _COMMITTED marker), so
    KG and curation run_dirs both report; uncommitted/foreign
    subdirectories are skipped."""
    rows = []
    for name in sorted(os.listdir(run_dir)):
        if not os.path.isdir(_stage_dir(run_dir, name)):
            continue
        marker = _read_marker(run_dir, name)
        if marker is None:
            continue
        n_rows = sum(marker["stats"][b]["rows"] for b in marker["batches"])
        rows.append((name, marker["run_id"], n_rows, len(marker["batches"])))
    return spark.createDataFrame(
        rows, "stage string, run_id string, n_rows long, n_batches long")
