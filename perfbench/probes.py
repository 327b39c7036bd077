"""Counters read from outside the package.

* ``Tracer`` — in-memory spans (name, layer, start, end, parent, pass
  id) and the Spark job group each layer call runs under, so the
  status store's stage metrics can be attributed to layers.
* ``engine_counters`` — per-layer sums of the status store's stage
  metrics, grouped by job group.
* ``BatchListener`` — ``StreamingQueryListener`` collecting micro-batch
  progress (trigger and addBatch durations).
* ``MemSampler`` — one thread sampling the resident memory (PSS) of
  this process and all its descendants (the JVM and the Python workers).
* ``StealClock`` — wall time of an interval and the share of CPU time
  the hypervisor stole in it.
* ``patch`` — swaps a public function for a wrapper in every package
  module that imported it, and restores it afterwards.
"""

from __future__ import annotations

import contextlib
import os
import signal
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# Layer for jobs whose group is not a benchmark span: in a traced pass
# those are the micro-batch jobs, which run under the streaming
# query's own job group.
UNATTRIBUTED = "streaming"


class Tracer:
    """Layer spans for the traced run; a disabled tracer is a no-op so
    the untraced run executes the same workload code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str, extra: bool = False):
        """Span ``name``; ``extra`` marks work that only the traced run
        does (a boundary materialization, a count), which is the
        tracing overhead."""
        if not self.enabled:
            yield
            return
        layer = name.split(".", 1)[0]
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(name, name)
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "layer": layer,
            "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "extra": extra,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def boundary(self, name: str, df) -> None:
        """Materialize ``df`` inside span ``name`` (traced run only), so
        the layer's work is timed at its own boundary."""
        if self.enabled:
            with self.span(name, extra=True):
                df.write.format("noop").mode("overwrite").save()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def overhead(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["extra"])

    def layer_wall(self) -> dict[str, float]:
        """Wall time per layer, counting only outermost spans of each
        layer (a span nested in a span of the same layer is not added
        twice)."""
        out: dict[str, float] = {}
        for s in self.spans:
            p = s["parent"]
            while p is not None and self.spans[p]["layer"] != s["layer"]:
                p = self.spans[p]["parent"]
            if p is None:
                out[s["layer"]] = out.get(s["layer"], 0.0) + s["end"] - s["start"]
        return out


def _jlist(spark, seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def next_job_id(spark) -> int:
    """Id the next Spark job will get (job ids are sequential)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def engine_counters(spark, layers, cores, wall, job_ranges):
    """Per-layer stage metrics from the status store for the jobs whose
    ids fall in ``job_ranges`` (the traced passes), attributed by the
    job group (= span name) each job ran under; also returns the job
    count per group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    per = {lay: {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                 "shuffle_write": 0, "spill": 0} for lay in layers}
    groups: dict[str, int] = {}
    stage_layer: dict[int, str] = {}
    for job in _jlist(spark, store.jobsList(None)):
        jid = int(job.jobId())
        if not any(lo <= jid < hi for lo, hi in job_ranges):
            continue
        grp = job.jobGroup()
        if not grp.isDefined():
            continue  # outside every span: not attributed to a layer
        name = grp.get()
        groups[name] = groups.get(name, 0) + 1
        layer = name.split(".", 1)[0]
        if layer not in per:
            layer = UNATTRIBUTED
        per[layer]["jobs"] += 1
        for sid in _jlist(spark, job.stageIds()):
            stage_layer.setdefault(int(sid), layer)
    for sid, layer in stage_layer.items():
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # stage never submitted (skipped)
            continue
        c = per[layer]
        c["tasks"] += int(st.numCompleteTasks())
        c["run_ms"] += int(st.executorRunTime())
        c["cpu_ns"] += int(st.executorCpuTime())
        c["gc_ms"] += int(st.jvmGcTime())
        c["shuffle_write"] += int(st.shuffleWriteBytes())
        c["spill"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    out = {}
    for lay, c in per.items():
        w = wall.get(lay, 0.0)
        out[lay] = {
            "jobs": c["jobs"],
            "tasks": c["tasks"],
            "executor_run_s": c["run_ms"] / 1e3,
            "executor_cpu_s": c["cpu_ns"] / 1e9,
            "gc_s": c["gc_ms"] / 1e3,
            "shuffle_write_bytes": c["shuffle_write"],
            "spill_bytes": c["spill"],
            "core_busy_ratio": (c["run_ms"] / 1e3) / (w * cores) if w > 0 else 0.0,
        }
    return out, groups


class BatchListener(StreamingQueryListener):
    """Micro-batch progress: (triggerExecution ms, addBatch ms) of
    every batch that read input rows."""

    def __init__(self):
        self.batches: list[tuple[int, int]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows > 0:
            d = p.durationMs
            with self._lock:
                self.batches.append((int(d.get("triggerExecution", 0)), int(d.get("addBatch", 0))))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout: float = 30.0) -> None:
        """Progress events arrive asynchronously on the listener bus."""
        end = time.monotonic() + timeout
        while len(self.batches) < n and time.monotonic() < end:
            time.sleep(0.01)

    def take(self) -> list[tuple[int, int]]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it (forked Python workers share most
    of their pages with the worker daemon)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(_pss_bytes(pid) for pid in [root, *descendants(root)])


def wait_gone(pids: list[int], timeout: float = 15.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout`` (orphaned workers are no longer our children, so they
    are polled, not waited on)."""
    end = time.monotonic() + timeout
    while pids and time.monotonic() < end:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


class StealClock:
    """Wall time of an interval, and the share of the CPUs' busy time
    in it that the hypervisor stole (``steal / (busy + steal)``).  On a
    VM that shares its host, steal stretches the wall time of the same
    CPU work: ``wall * (1 - stolen)`` is the time without it."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = cpu_ticks()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, cpu_ticks()))
        return wall, steal / (busy + steal) if busy + steal else 0.0

    def adjusted(self) -> float:
        """Steal-adjusted wall time since the clock started."""
        wall, stolen = self.stop()
        return wall * (1.0 - stolen)


class MemSampler(threading.Thread):
    """Peak resident memory (PSS) of this process tree, sampled while
    ``active`` is set."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.active = threading.Event()
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join()


@contextlib.contextmanager
def patch(original, wrapper):
    """Replace ``original`` by ``wrapper`` in every loaded package
    module that holds it as a global, then restore."""
    hits = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith("aws_pandas_etl_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                hits.append((mod, attr))
    try:
        yield
    finally:
        for mod, attr in hits:
            setattr(mod, attr, original)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, hidden/metadata files
    excluded the way Spark's file index excludes them."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
