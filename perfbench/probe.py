"""Measurement plumbing: the pinned Spark session, the call tracer
(job groups read back from Spark's status store), JVM counters and the
host record. Everything here observes the program from outside."""

from __future__ import annotations

import itertools
import os
import platform
import sys
import time
from contextlib import contextmanager

from stats import interval_union

#: metrics read off Spark's status store for the jobs of one call
STORE_FIELDS = ("jobs", "tasks", "executor_cpu_ms", "shuffle_bytes",
                "input_bytes", "output_bytes")


def session_conf(work: str, cores: int) -> dict:
    """The pinned session. Small on purpose: the host is shared."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "1g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
            # a heap fixed at its maximum keeps resident memory from
            # tracking when the collector chose to grow the heap
            "-Xms1g"
        ),
    }


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(work, cores).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        sc._gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark):
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class JvmCounters:
    """Cumulative JVM-side counters read over py4j."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        src = jvm.org.apache.spark.metrics.source
        self._codegen = src.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._files = src.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()

    def codegen_compiles(self) -> int:
        return int(self._codegen.getCount())

    def files_discovered(self) -> int:
        return int(self._files.getCount())

    def snapshot(self) -> dict:
        snap = self._codegen.getSnapshot()
        n = self.codegen_compiles()
        return {
            "gc_ms": float(sum(g.getCollectionTime()
                               for g in self._mf.getGarbageCollectorMXBeans())),
            "jit_ms": float(self._mf.getCompilationMXBean().getTotalCompilationTime()),
            "codegen_compiles": n,
            # the histogram keeps a reservoir, so the total is mean x count
            "codegen_compile_ms": float(snap.getMean()) * n,
            "files_discovered": self.files_discovered(),
        }


class Tracer:
    """Times calls into the program. With ``enabled`` it also records
    spans (name, start, end, parent, request id), runs each call under
    its own Spark job group and reads that group's jobs back from the
    status store. Spans stay in memory until the run ends."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.active = enabled  # switched off for untraced comparison rounds
        self.spans: list = []
        self.calls: list = []
        self._ids = itertools.count(1)
        self._req = None
        self._jvm = JvmCounters(spark) if enabled else None

    def _span(self, name, start, end, parent):
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "req": self._req})
        return sid

    @contextmanager
    def request(self, name: str):
        """Root span of one client request; calls inside are its children."""
        if not self.active:
            yield
            return
        sid = next(self._ids)
        prev, self._req = self._req, sid
        span = {"id": sid, "name": name, "start": time.time(), "end": None,
                "parent": None, "req": sid}
        self.spans.append(span)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._req = prev

    def call(self, layer: str, build, execute=None):
        """Run ``build()`` (returns a lazy DataFrame or does all the work)
        and then ``execute(result)`` (the action). Returns (value, record)
        where record holds build_ms, exec_ms and ms, plus the status-store
        counts when tracing."""
        traced = self.active
        if traced:
            group = f"perfbench-{next(self._ids)}"
            self.sc.setJobGroup(group, layer)
            cg0 = self._jvm.codegen_compiles()
            fl0 = self._jvm.files_discovered()
        w0, t0 = time.time(), time.perf_counter()
        try:
            value = build()
            w1, t1 = time.time(), time.perf_counter()
            if execute is not None:
                value = execute(value)
        finally:
            w2, t2 = time.time(), time.perf_counter()
            if traced:
                self.sc._jsc.clearJobGroup()
        rec = {"layer": layer, "build_ms": (t1 - t0) * 1e3,
               "exec_ms": (t2 - t1) * 1e3, "ms": (t2 - t0) * 1e3, "traced": traced}
        if traced:
            rec.update(self._store_metrics(group, w0, w2))
            rec["codegen_compiles"] = self._jvm.codegen_compiles() - cg0
            rec["files_listed"] = self._jvm.files_discovered() - fl0
            parent = self._span(layer, w0, w2, self._req)
            self._span(layer + ":build", w0, w1, parent)
            if execute is not None:
                self._span(layer + ":exec", w1, w2, parent)
        self.calls.append(rec)
        return value, rec

    def _store_metrics(self, group: str, w0: float, w2: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(STORE_FIELDS, 0)
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:
                    continue  # skipped stage: never attempted
                out["tasks"] += st.numCompleteTasks()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
        out["driver_gap_ms"] = ((w2 - w0) - interval_union(spans, w0, w2)) * 1e3
        return out


# -- host record ---------------------------------------------------------

def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_seconds() -> float:
    """Cumulative steal time of all CPUs (from /proc/stat)."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_record(spark, cores: int, work: str) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "platform": platform.platform(),
        "session": {k: v for k, v in session_conf(work, cores).items()
                    if not k.endswith(("local.dir", "warehouse.dir", "JavaOptions"))},
        "executable": os.path.basename(sys.executable),
    }
