"""Run plumbing shared by every workload: the Spark session, the span
tracer (with per-span Spark stage metrics), process-tree memory sampling
and clean shutdown.

Everything here lives in the benchmark, not in the engine: spans are taken
around calls into the engine's public functions, and stage metrics are read
from Spark's own status store after the run.
"""

from __future__ import annotations

import contextlib
import os
import shlex
import shutil
import sys
import threading
import time

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# Spark local[N] never exceeds the cores this process may run on, and the
# driver heap is sized for a shared box, not for the engine's 24g default.
MAX_CORES = 4
DRIVER_MEM = "2g"


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def configure_env(root: str, work: str) -> None:
    """Environment for the driver, the JVM and the Python workers: the repo
    on every Python path (mapInPandas workers import the engine), and every
    temporary, shuffle and warehouse file inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at start, so peak memory does
        # not depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_spark():
    from spidey_search_engine_spark.session import get_spark
    n = cores()
    spark = get_spark(app="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then close the gateway JVM's stdin (its exit
    signal) and wait for it, then for the Python daemon and workers it
    started (they exit when the JVM does, as orphans this process cannot
    wait on)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    started = process_tree()[1:]
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(started)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            log(f"processes still running after {timeout:.0f}s: {pids}")
            return
        time.sleep(0.1)


def kill_jvm() -> None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.kill()
            proc.wait(timeout=10)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


# --------------------------------------------------------- memory sampling

def process_tree() -> list[int]:
    """This process and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


class MemSampler:
    """Peak summed memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc every `interval` s.

    Python processes count their PSS: RSS with each shared page split
    among the processes that map it, so workers forked from one daemon are
    not counted once per fork. The JVM forks nothing and shares nothing
    with them, and reading its PSS walks a multi-GB heap (~30 ms, under
    the JVM's memory-map lock), so it counts its RSS."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / 1e6

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self):
        total = 0
        for pid in process_tree():
            try:
                total += self._bytes(pid)
            except OSError:  # the process has exited
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def _bytes(self, pid: int) -> int:
        with open(f"/proc/{pid}/comm") as fh:
            is_jvm = fh.read().strip() == "java"
        if is_jvm:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0


# ------------------------------------------------------------------ tracing

class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent span id and
    request id. Each span runs its Spark jobs under its own job group, so
    `stage_metrics` can attribute executor time, task counts and shuffle
    bytes to it. Disabled, `span` is a bare no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._metrics: dict[str, dict] | None = None

    @contextlib.contextmanager
    def span(self, name: str, request_id=None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "request_id": request_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}", "start": time.time(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._metrics = None  # this span's jobs are not in the snapshot
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def stage_metrics(self) -> dict[str, dict]:
        """job group -> {jobs, tasks, executor_ms, shuffle_read_bytes,
        shuffle_write_bytes, jobs_detail}, from Spark's status store
        (completed stages only; skipped stages did no work). Jobs of a
        streaming query run under the stream's own group, not the span's."""
        if self._metrics is not None:
            return self._metrics
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = {}
        it = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0),
                             sc._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) != "COMPLETE":
                continue
            stages[(s.stageId(), s.attemptId())] = (
                s.numTasks(), s.executorRunTime(), s.shuffleReadBytes(),
                s.shuffleWriteBytes())
        by_stage: dict[int, list] = {}
        for (sid, _), v in stages.items():
            by_stage.setdefault(sid, []).append(v)
        out: dict[str, dict] = {}
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            if not grp.isDefined():
                continue
            m = out.setdefault(str(grp.get()), {
                "jobs": 0, "tasks": 0, "executor_ms": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "jobs_detail": []})
            m["jobs"] += 1
            job_exec = 0
            sit = j.stageIds().iterator()
            while sit.hasNext():
                for tasks, run_ms, rd, wr in by_stage.get(sit.next(), ()):
                    m["tasks"] += tasks
                    m["executor_ms"] += run_ms
                    m["shuffle_read_bytes"] += rd
                    m["shuffle_write_bytes"] += wr
                    job_exec += run_ms
            end = j.completionTime()
            m["jobs_detail"].append({
                "job_id": j.jobId(), "executor_ms": job_exec,
                "end": end.get().getTime() / 1000.0
                if end.isDefined() else None})
        self._metrics = out
        return out

    def metrics_of(self, rec: dict) -> dict:
        return self.stage_metrics().get(rec["group"], {
            "jobs": 0, "tasks": 0, "executor_ms": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "jobs_detail": []})

    def dump(self) -> dict:
        metrics = self.stage_metrics()
        return {"spans": [dict(s, spark={k: v for k, v in
                                         metrics.get(s["group"], {}).items()
                                         if k != "jobs_detail"})
                          for s in self.spans]}


def cached_mb(spark) -> float:
    """Storage memory held by cached RDDs/DataFrames, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6
