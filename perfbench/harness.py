"""Run plumbing: host facts and provenance, the Spark session sized to the
host, a streaming progress listener, peak memory of the process tree, and
the Spark event-log reader used by the traced pass."""

from __future__ import annotations

import ctypes
import glob
import json
import os
import platform
import signal
import subprocess
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_gb(mem_total: int) -> int:
    """A quarter of physical memory, 2..8 GB: the rest is left to the
    JVM's off-heap use, the Python workers and other tenants."""
    return max(2, min(8, int(mem_total / 4 / 2**30)))


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
        return (out.stderr or out.stdout).splitlines()[0].strip()
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def git_commit(root: str) -> str:
    """HEAD of the checkout, or 'unknown' outside a git work tree."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def provenance(root: str, seed: int, heap_gb: int) -> dict:
    import pyspark

    return {
        "nproc": host_cores(),
        "mem_total_mb": mem_total_bytes() // 2**20,
        "driver_heap": f"{heap_gb}g",
        "spark": pyspark.__version__,
        "java": java_version(),
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "seed": seed,
    }


def session_env(work: str, heap_gb: int) -> None:
    """Environment the program's session factory reads; set before the
    JVM starts. Scratch space stays inside the run's work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable


def session_conf(work: str, heap_gb: int, event_log: bool) -> dict[str, str]:
    """Session settings of the benchmark. The heap is committed and
    touched at JVM start (-Xms = -Xmx, AlwaysPreTouch), so it is a fixed
    part of peak memory that the run subtracts: what is left is off-heap
    and Python memory, the part the program can move."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap_gb}g -XX:+AlwaysPreTouch",
        "spark.sql.streaming.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        d = os.path.abspath(os.path.join(work, "eventlog"))
        os.makedirs(d, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + d,
            "spark.eventLog.compress": "false",
        })
    return conf


# -- processes --------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: a Python worker
    whose parent (the JVM or PySpark's worker daemon) ends is re-parented
    to this process, so ``stop_processes`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def stop_processes(grace_s: float = 30.0, term_after_s: float = 10.0) -> list[int]:
    """Stop the JVM that PySpark launched, then every other descendant
    of this process, and wait until each has ended. The JVM exits when
    its stdin closes, after its shutdown hooks; it gets SIGKILL after
    ``grace_s``. Descendants still there ``term_after_s`` later get
    SIGTERM, 5 s on SIGKILL. Returns the pids left 5 s after that (none,
    normally)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    me, t0 = os.getpid(), time.time()
    signals = [(term_after_s, signal.SIGTERM), (term_after_s + 5, signal.SIGKILL)]
    while True:
        _reap()
        left = [p for p in _tree_pids(me) if p != me]
        if not left:
            return []
        waited = time.time() - t0
        if signals and waited >= signals[0][0]:
            _signal_all(left, signals.pop(0)[1])
        elif not signals and waited >= term_after_s + 10:
            return left
        time.sleep(0.05)


# -- memory -----------------------------------------------------------------

def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_pss_bytes(root_pid: int | None = None) -> int:
    """Summed proportional set size of a process and its descendants.
    PSS splits each shared page between the processes mapping it, so
    forked Python workers are not counted once per fork as RSS would."""
    total = 0
    for p in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMem:
    """Peak summed PSS of this process and its descendants (the JVM and
    its Python workers), sampled by whoever calls ``sample()``, at most
    every ``every_s`` seconds: one sample reads a few ``smaps_rollup``
    files and costs tens of milliseconds."""

    def __init__(self, every_s: float = 0.5) -> None:
        self.peak = 0
        self.every_s = every_s
        self._last = 0.0
        self._lock = threading.Lock()

    def sample(self) -> None:
        now = time.time()
        if now - self._last < self.every_s:
            return
        self._last = now
        pss = tree_pss_bytes()
        with self._lock:
            self.peak = max(self.peak, pss)


def wait_query(query, mem: PeakMem) -> None:
    """Block until the query ends, sampling memory meanwhile. Raises the
    query's exception."""
    while not query.awaitTermination(0.2):
        mem.sample()


# -- streaming progress -----------------------------------------------------

class ProgressListener(StreamingQueryListener):
    """Every progress event per query run, kept in memory. Keyed by run
    id: a query restarted from its checkpoint keeps its query id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}
        self._done: dict[str, threading.Event] = {}

    def _event(self, qid: str) -> threading.Event:
        with self._lock:
            return self._done.setdefault(qid, threading.Event())

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self._event(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "dropped_late": s.numRowsDroppedByWatermark,
                }
                for s in (p.stateOperators or [])
            ],
        }
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self._event(str(event.runId)).set()

    def epochs(self, run_id: str, timeout_s: float = 20.0) -> list[dict]:
        """Progress of batches that ran (one per batch id), once the
        query run's terminated event has been delivered."""
        if not self._event(run_id).wait(timeout_s):
            raise RuntimeError(f"no terminated event for query run {run_id}")
        with self._lock:
            recs = list(self.progress.get(run_id, []))
        seen, out = set(), []
        for r in recs:
            if "addBatch" in r["duration_ms"] and r["batch_id"] not in seen:
                seen.add(r["batch_id"])
                out.append(r)
        return out


# -- checkpoint and table logs ---------------------------------------------

def batch_files(checkpoint: str, source: int = 0) -> dict[str, int]:
    """File name -> batch id, from the file source's batch log. Every
    tenth batch the log is compacted: batch N's entries then live only in
    ``N.compact``, which repeats the earlier batches' entries too."""
    out: dict[str, int] = {}
    src = os.path.join(checkpoint, "sources", str(source))
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_times(marker_dirs: list[str]) -> dict[int, float]:
    """Epoch -> latest commit-marker mtime across the given marker dirs
    (a table's ``_commits`` or a file sink's ``_spark_metadata``), for the
    epochs every one of them has committed: an output is in sync only
    once its last table has committed."""
    per_dir: list[dict[int, float]] = []
    for d in marker_dirs:
        times: dict[int, float] = {}
        if os.path.isdir(d):
            for name in os.listdir(d):
                # a file sink's metadata log compacts every tenth batch to N.compact
                epoch = name.removesuffix(".compact")
                if epoch.isdigit():
                    times[int(epoch)] = os.stat(os.path.join(d, name)).st_mtime
        per_dir.append(times)
    if not per_dir:
        return {}
    common = set(per_dir[0]).intersection(*per_dir[1:])
    return {e: max(times[e] for times in per_dir) for e in common}


# -- Spark event log --------------------------------------------------------

def _acc(info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in info.get("Accumulables", []):
        name, val = a.get("Name"), a.get("Value")
        try:
            out[name] = out.get(name, 0.0) + float(val)
        except (TypeError, ValueError):
            continue
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their local properties) and completed stages from the
    event log of the last Spark application written to ``log_dir``."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if not apps:
        return {"jobs": {}, "stages": {}}
    app = max(apps, key=os.path.getmtime)
    # a rolling log is a dir of events_<n>_<app> files; a plain log is one file
    files = sorted(glob.glob(os.path.join(app, "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1])) \
        if os.path.isdir(app) else [app]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "submit_ms": ev.get("Submission Time", 0),
                    "stages": ev.get("Stage IDs", []),
                    "props": ev.get("Properties", {}) or {},
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                stages[info["Stage ID"]] = {
                    "acc": _acc(info),
                    "wall_s": (done - sub) / 1000.0 if sub and done else 0.0,
                }
    return {"jobs": jobs, "stages": stages}


def stage_totals(log: dict, job_pred) -> dict[str, float]:
    """Summed stage accumulables over the jobs ``job_pred(props)`` keeps."""
    tot: dict[str, float] = {"jobs": 0, "stage_wall_s": 0.0}
    seen: set[int] = set()
    for job in log["jobs"].values():
        if not job_pred(job["props"]):
            continue
        tot["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            tot["stage_wall_s"] += st["wall_s"]
            for k, v in st["acc"].items():
                tot[k] = tot.get(k, 0.0) + v
    return tot
