"""Run plumbing: per-run directory, Spark session, sampling, environment.

Nothing here knows about a particular workload.  The session is one
``local[nproc]`` driver with every scratch location (Spark local dirs,
the JVM's temp dir, Python's temp dir, the event log) inside the run
directory, which is removed when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import threading
import time

PACKAGE = "pg_cjk_parser_spark"


# ------------------------------------------------------------------ stats


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default definition)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values, pct: int):
    """``(value, n)`` for the ``pct`` percentile when at least ten
    samples lie beyond it, else ``(None, n)``."""
    n = len(values)
    if n * (100 - pct) / 100 < 10:
        return None, n
    return quantile(values, pct / 100), n


# ------------------------------------------------------------ /proc probes


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class Steal:
    """Steal share of the CPU time that passed since construction."""

    def __init__(self):
        self.s0, self.t0 = cpu_jiffies()

    def share(self) -> float:
        s1, t1 = cpu_jiffies()
        return (s1 - self.s0) / max(1, t1 - self.t0)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def descendants() -> list[int]:
    return _tree_pids(os.getpid())[1:]


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# ------------------------------------------------------------ environment


def source_digest(root: str) -> str:
    """sha256 over the library's .py files: identifies the code under
    test when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    """HEAD commit read from ``.git`` without running git; None when the
    checkout is not a repository."""
    gdir = os.path.join(root, ".git")
    try:
        with open(os.path.join(gdir, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(gdir, ref)) as f:
                return f.read().strip()
        except OSError:
            with open(os.path.join(gdir, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        return None
    return None


def environment(root: str, spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "git_sha": git_sha(root),
        "source_digest": source_digest(root),
    }


# ------------------------------------------------------------------ Spark


class RunDir:
    """Per-run scratch directory inside the checkout, removed on exit."""

    def __init__(self, root: str):
        self.path = os.path.join(
            root, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}"
        )

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def __enter__(self):
        os.makedirs(self.path)
        os.environ["TMPDIR"] = self.sub("tmp")
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass
        return False


def start_spark(root: str, rd: RunDir, event_dir: str | None = None):
    """``local[nproc]`` session.  The package reaches the Python workers
    through PYTHONPATH (they import it from the checkout, sharing its
    tokenizer table cache)."""
    from pyspark.sql import SparkSession

    nproc = os.cpu_count() or 1
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    tmp = rd.sub("tmp")
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", rd.sub("spark-local"))
        .config("spark.sql.warehouse.dir", rd.sub("warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.executorEnv.PYTHONPATH", root)
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, wait_s: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in, and wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close() if proc.stdin else None
        try:
            proc.wait(timeout=wait_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + wait_s
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


class Background:
    """Runs ``fn`` on a thread; ``join`` re-raises what it raised.  Input
    generation is pure Python and overlaps the JVM start this way."""

    def __init__(self, fn):
        self._exc: BaseException | None = None
        self._thread = threading.Thread(target=self._run, args=(fn,), daemon=True)
        self._thread.start()

    def _run(self, fn):
        try:
            fn()
        except BaseException as e:  # re-raised in join
            self._exc = e

    def join(self) -> None:
        self._thread.join()
        if self._exc is not None:
            exc, self._exc = self._exc, None
            raise exc
