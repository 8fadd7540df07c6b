"""Run plumbing shared by the workloads: the sandboxed environment,
Spark start and stop, the GC barrier, peak-RSS sampling, the box-drift
probe, and the traced-mode instruments (spans, the status-store stage
ledger, streaming progress events, JVM GC time)."""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
TRACES = os.path.join(ROOT, "perfbench", ".traces")

# task slots: fewer than the box's 4 cores, which leaves room for the
# JVM's JIT and GC threads; a probe sweep had its lowest median at 2
SLOTS = 2
# the driver heap is fixed and pre-touched: a heap left to grow does so
# on GC timing, which moved peak RSS by 1.5x between runs of one seed;
# with it fixed, peak RSS moves with off-heap and Python-worker memory
DRIVER_MEMORY = "1g"


def prepare_env() -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the checkout before pyspark starts the JVM."""
    import shlex
    import tempfile
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, spark-submit's launcher included: temp files in the
    # checkout, no perf-data file in the system temp dir, and JIT
    # compiler threads that live as long as the JVM, so that
    # `jit_cpu_seconds` loses none of their time to a thread's exit
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:-UseDynamicNumberOfCompilerThreads")
    java_opts = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'wh')}",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    """The program's own session factory, through the first job.
    Returns the session, its wall seconds (`session.start_s`), the CPU
    seconds it cost this process and the JVM tree less the driver
    JVM's JIT compiler threads (spark-submit's launcher JVM is
    included: it is a reaped child of the final JVM), and the JIT
    compiler threads' CPU seconds."""
    from mysql_syncer_clickhouse_spark.session import get_spark
    c0, t0 = sum(os.times()[:4]), time.perf_counter()
    spark = get_spark("perfbench", cpus=SLOTS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    wall = time.perf_counter() - t0
    pid = jvm_pid()
    jit = jit_cpu_seconds(pid)
    return spark, wall, tree_cpu_seconds(pid) - c0 - jit, jit


def stop_spark(spark) -> None:
    """Stop Spark, then close the JVM's stdin (the gateway exits on
    EOF) and wait for the JVM process to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def gc_barrier(spark) -> None:
    """Between timed iterations: collect Python garbage and ask the
    driver JVM for a full GC, so one iteration's garbage is not billed
    to the next."""
    gc.collect()
    spark._jvm.System.gc()


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def drift_probe() -> float:
    """A fixed pure-Python loop, timed: the box-drift diagnostic. It is
    recorded next to the results and never used to normalise them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def process_tree(root_pid: int) -> list[int]:
    """`root_pid` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python
    descendants (the worker daemon and its forks), sampled every
    100 ms. Other descendants are left out: the JVM forks short-lived
    shell helpers, and a forked child shows the parent's whole RSS
    until it execs, which doubled the figure in some samples."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.peak_parts: list = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total, parts = 0, []
        for p in process_tree(self.jvm_pid):
            try:
                with open(f"/proc/{p}/statm") as f:
                    kb = int(f.read().split()[1]) * (
                        os.sysconf("SC_PAGE_SIZE") // 1024)
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            if p != self.jvm_pid and not comm.startswith("python"):
                continue
            parts.append((comm, kb // 1024))
            total += kb
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.sample()
        return self.peak_kb / 1024.0


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of a
    process tree plus this process."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:4])
    for p in process_tree(root_pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def jit_cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds (user + system) of the JVM's JIT compiler threads
    so far."""
    tick = os.sysconf("SC_CLK_TCK")
    task = f"/proc/{jvm_pid}/task"
    total = 0.0
    for t in os.listdir(task):
        try:
            with open(f"{task}/{t}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"{task}/{t}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / tick
    return total


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans (name, start, end, parent, iteration) around the
    benchmark's calls into each layer; written out once at the end. A
    disabled tracer records nothing and tags no job groups."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration: int | None = None
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(f"perfbench:{group}", name)
        rec = {"name": name, "iteration": self.iteration,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _status_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _as_list(spark, seq):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def _stage_list(spark):
    """Every stage the app status store holds. py4j cannot use Scala's
    default arguments, so all five of stageList's are passed."""
    jvm = spark._jvm
    seq = _status_store(spark).stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())
    return _as_list(spark, seq)


def _job_ids(spark) -> list[int]:
    seq = _status_store(spark).jobsList(spark._jvm.java.util.ArrayList())
    return [j.jobId() for j in _as_list(spark, seq)]


def watermark(spark) -> tuple[int, int]:
    """(highest stage id, highest job id) submitted so far."""
    stages = [s.stageId() for s in _stage_list(spark)]
    jobs = _job_ids(spark)
    return max(stages, default=-1), max(jobs, default=-1)


def stage_ledger(spark, after: tuple[int, int]) -> dict:
    """Totals over the stages and jobs submitted after the `after`
    watermark (the benchmark runs no concurrent Spark work, so they
    are the measured call's)."""
    out = {"tasks": 0, "cpu_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0}
    for s in _stage_list(spark):
        if s.stageId() <= after[0]:
            continue
        out["tasks"] += s.numTasks()
        out["cpu_s"] += s.executorCpuTime() / 1e9
        out["input_bytes"] += s.inputBytes()
        out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
    out["jobs"] = sum(1 for j in _job_ids(spark) if j > after[1])
    return out


def flush_listeners(spark) -> None:
    """Wait until the listener bus has delivered every queued event
    (streaming progress reaches Python listeners through it)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class ProgressLog:
    """StreamingQueryListener keeping every micro-batch's durationMs."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener
        self.events: list[dict] = []
        log = self.events

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.append({"rows": p.numInputRows,
                            "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def take(self) -> list[dict]:
        out = list(self.events)
        self.events.clear()
        return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile; 0.0 for no samples."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0
