"""Shared benchmark machinery.

Sizing and pinning, the Spark session set-up that ``setup_s`` times, CPU and
RSS of the JVM + Python worker process tree read from ``/proc``, Spark stage
metrics from the status REST API, box context, order-independent digests and
the in-memory span recorder used by traced runs.

Nothing here touches program code: every call goes through the package's
public functions (``get_spark`` and friends).
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import statistics
import sys
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

CLK_TCK = os.sysconf("SC_CLK_TCK")
MASK64 = (1 << 64) - 1


# --------------------------------------------------------------------------
# sizing, pinning and the process environment
# --------------------------------------------------------------------------


def cores() -> int:
    """Cores for the run: ``$SPARK_GRAFT_CPUS`` if set, else every CPU this
    process may run on (what ``nproc`` prints), capped by that set."""
    avail = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS")
    n = int(want) if want else avail
    return max(1, min(n, avail))


def pin(n: int) -> list[int]:
    """Pin this process to its first ``n`` allowed CPUs (the call ``taskset``
    makes).  The JVM, the Python workers and every pool started later
    inherit the mask, so ``n`` is a hard cap on the whole run."""
    cpus = sorted(os.sched_getaffinity(0))[:n]
    os.sched_setaffinity(0, cpus)
    return cpus


def prepare_env() -> Path:
    """Point every scratch location Spark and Python use inside the checkout
    and make the package importable by Python workers.  Must run before
    pyspark starts its JVM."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the package, and this directory for the digest UDF
    old = os.environ.get("PYTHONPATH")
    paths = [str(ROOT), str(Path(__file__).resolve().parent)] + ([old] if old else [])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["TMPDIR"] = str(tmp)
    # get_spark defaults the driver heap to 16g, too much for a shared machine
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={tmp / 'warehouse'}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return tmp


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent exits (a Python worker of Spark's daemon, say) is
    re-parented here instead of to init, so ``reap_all`` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"warning: prctl(PR_SET_CHILD_SUBREAPER) failed, errno {ctypes.get_errno()}",
              file=sys.stderr)


def reap_all(grace_s: float = 20.0) -> None:
    """Stop and wait for every process this one started, adopted orphans
    included: stop multiprocessing's resource tracker, give the rest
    ``grace_s`` to exit, then SIGKILL them, and reap each one."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()  # closes its pipe and waits; it ignores SIGTERM
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        kids = tree_pids(os.getpid())[1:]
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


@contextmanager
def pool(n: int):
    """A spawn-context worker pool of ``n`` processes; joined on exit."""
    import multiprocessing as mp

    p = mp.get_context("spawn").Pool(n)
    try:
        yield p
        p.close()
    except BaseException:
        p.terminate()
        raise
    finally:
        p.join()


# --------------------------------------------------------------------------
# Spark session set-up and teardown
# --------------------------------------------------------------------------


def open_session(n: int):
    """``get_spark`` at ``local[n]`` in a process with no JVM yet: the JVM
    launch, the session and its Python worker warm-up.  Returns (session,
    seconds)."""
    from open_parse_spark.spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def close_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited (the gateway JVM exits
    when its stdin closes).  Its Python daemon and workers outlive it for a
    moment; ``reap_all`` waits for them."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        # also when a signal broke the gateway connection mid-call
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# --------------------------------------------------------------------------
# /proc: process tree CPU and peak RSS, steal
# --------------------------------------------------------------------------


def _stat(pid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(d)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the JVM tree (user + system, plus reaped children) and
    of this driver process itself."""
    ticks = 0
    for p in tree_pids(root):
        f = _stat(p)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    own = _stat("self")
    ticks += int(own[11]) + int(own[12])
    return ticks / CLK_TCK


def reset_hwm(root: int) -> None:
    """Reset ``VmHWM`` to the current RSS for every process of the JVM tree
    (writing 5 to ``clear_refs``), so a later reading is the peak since."""
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_hwm_mb(root: int, workers: int) -> tuple[float, float, list[float]]:
    """Peak resident set (``VmHWM``) of the JVM tree: the JVM, the Python
    daemon and the ``workers`` largest Python workers.  ``local[n]`` runs at
    most n tasks at once; further workers are idle spares that a fork race
    left behind, and counting them made the sum jump by a worker's size
    (~145 MB) from run to run.  Returns (total, JVM, [daemon, workers...])
    in MB."""
    jvm, other = 0, []
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if p == root:
            jvm = kb
        else:
            other.append(kb)
    # the daemon has the smallest peak of the Python processes
    other.sort()
    daemon, workers_kb = other[:1], other[1:]
    counted = workers_kb[-workers:] if workers else []
    return (jvm + sum(daemon) + sum(counted)) / 1024.0, jvm / 1024.0, [
        kb / 1024.0 for kb in daemon + counted
    ]


def steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def canary_ms() -> float:
    """The fixed pure-Python speed index bench.py records: best of three
    runs of one million multiply-adds.  Recorded, never used to adjust."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


class Meter:
    """CPU seconds, peak RSS and steal over one timed window.  The peaks are
    reset on entry, so ``rss_mb`` covers the window, not the untimed check
    and warm-up jobs before it."""

    def __init__(self, pid: int, workers: int):
        self.pid, self.workers = pid, workers

    def __enter__(self):
        reset_hwm(self.pid)
        self.cpu0 = tree_cpu_s(self.pid)
        self.steal0 = steal_ticks()
        return self

    def __exit__(self, *exc):
        self.cpu_s = tree_cpu_s(self.pid) - self.cpu0
        self.rss_mb, self.jvm_rss_mb, self.py_rss_mb = tree_hwm_mb(self.pid, self.workers)
        self.steal_pct = steal_pct(self.steal0, steal_ticks())
        return False


# --------------------------------------------------------------------------
# Spark stage metrics from the status REST API (traced runs)
# --------------------------------------------------------------------------


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self) -> list[dict]:
        # the status store is fed by the async listener bus: wait until no
        # job of ours is still running
        deadline = time.monotonic() + 10
        while True:
            jobs = self._get("/jobs")
            if time.monotonic() > deadline or all(
                j["status"] != "RUNNING" for j in jobs
            ):
                return jobs
            time.sleep(0.1)

    def _gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def mark(self) -> tuple[int, int]:
        return max((j["jobId"] for j in self._settled_jobs()), default=-1), self._gc_ms()

    def since(self, mark: tuple[int, int]) -> dict:
        """Totals over the jobs started after ``mark``; GC time is the JVM's
        (driver and executors share it in local mode) since ``mark``."""
        job0, gc0 = mark
        jobs = [j for j in self._settled_jobs() if j["jobId"] > job0]
        wanted = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._get("/stages")
            if s["stageId"] in wanted and s["status"] == "COMPLETE"
        ]
        out = {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": (self._gc_ms() - gc0) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
            "spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            )
            / 2**20,
            "task_skew": 0.0,
        }
        # skew of the stage that ran longest: max task time / median
        multi = [s for s in stages if s["numCompleteTasks"] > 1]
        if multi:
            top = max(multi, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_skew"] = q[1] / q[0] if q[0] > 0 else 0.0
        return out


def count_exchanges(df) -> int:
    """Exchange operators (shuffle and broadcast) in the formatted plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and "Exchange" in line.split(")", 1)[1]
    )


# --------------------------------------------------------------------------
# digests
# --------------------------------------------------------------------------


def row_hash(row) -> int:
    blob = json.dumps(row, separators=(",", ":"), ensure_ascii=False, default=str)
    return int.from_bytes(
        hashlib.blake2b(blob.encode(), digest_size=8).digest(), "little"
    )


def digest(rows) -> tuple[int, int]:
    """Order-independent multiset digest: (row count, sum of row hashes)."""
    n = h = 0
    for r in rows:
        n += 1
        h = (h + row_hash(r)) & MASK64
    return n, h


def frame_rows(pdf, cols):
    """Rows of a pandas frame as lists of plain Python values."""
    return zip(*(pdf[c].tolist() for c in cols))


def _digest_udf(cols, flag):
    def run(batches):
        import pandas as pd

        from harness import MASK64, frame_rows, row_hash

        n = h = flagged = 0
        for pdf in batches:
            for row in frame_rows(pdf, cols):
                n += 1
                h = (h + row_hash(row)) & MASK64
            flagged += int(pdf[flag].notna().sum())
        yield pd.DataFrame({"n": [n], "hi": [h >> 32], "lo": [h & 0xFFFFFFFF], "flagged": [flagged]})

    return run


def spark_digest(df, cols, flag):
    """``digest`` of ``cols`` over a DataFrame, computed in the Python
    workers so no output is collected to the driver; also counts the rows
    where ``flag`` is not null.  Returns ((rows, hash sum), flagged)."""
    rows = (
        df.select(*cols, flag)
        .mapInPandas(_digest_udf(cols, flag), "n long, hi long, lo long, flagged long")
        .collect()
    )
    h = sum((r.hi << 32) | r.lo for r in rows) & MASK64
    return (sum(r.n for r in rows), h), sum(r.flagged for r in rows)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile of ``xs`` with at least ten samples beyond it:
    (value, percentile, sample count).  Fewer than eleven samples give the
    maximum, reported as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and run id.  A span is a
    four-item list ``[name, start, end, parent]`` so that tracing a call
    costs about a microsecond; attributes live in a side table.  Disabled,
    the tracer records nothing and ``wrap`` returns the function itself."""

    def __init__(self, run_id: str, enabled: bool):
        self.run = run_id
        self.enabled = enabled
        self.spans: list[list] = []
        self.attrs: dict[int, dict] = {}
        self._stack: list[int] = []

    def begin(self, name: str) -> int:
        stack = self._stack
        sid = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, stack[-1] if stack else None])
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][2] = time.perf_counter()
        self._stack.pop()

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span timed elsewhere (e.g. a streaming micro-batch), as a child
        of the open span."""
        if self.enabled:
            self.attrs[len(self.spans)] = attrs
            self.spans.append([name, start, end, self._stack[-1] if self._stack else None])

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn
        begin, end = self.begin, self.end

        def traced(*args):
            sid = begin(name)
            res = fn(*args)
            end(sid)
            return res

        return traced

    def totals(self, since: int = 0) -> dict[str, dict]:
        """Per span name: count, total duration and self time (duration minus
        the part of it that child spans cover), over the spans recorded from
        index ``since`` on.  Open spans are skipped."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for name, start, end, parent in self.spans[since:]:
            if end is not None and parent is not None:
                kids.setdefault(parent, []).append((start, end))
        out: dict[str, dict] = {}
        for sid, (name, start, end, _) in enumerate(self.spans[since:], since):
            if end is None:
                continue
            covered, reach = 0.0, start
            for a, b in sorted(kids.get(sid, ())):
                a, b = max(a, reach), min(b, end)
                if b > a:
                    covered += b - a
                    reach = b
            agg = out.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += end - start
            agg["self_s"] += end - start - covered
        return out

    def write(self, path: Path, header: dict) -> None:
        """One JSON line for the header, then one per span: id, name, start,
        end (``perf_counter`` seconds), parent id, run id and attributes."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"header": header}) + "\n")
            for sid, (name, start, end, parent) in enumerate(self.spans):
                rec = {"id": sid, "name": name, "start": start, "end": end,
                       "parent": parent, "run": self.run, **self.attrs.get(sid, {})}
                fh.write(json.dumps(rec) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "sid")

    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            self.sid = self.tracer.begin(self.name)
        return self

    def set(self, **attrs) -> None:
        if self.tracer.enabled:
            self.tracer.attrs.setdefault(self.sid, {}).update(attrs)

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer.end(self.sid)
        return False
