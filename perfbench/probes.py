"""Measurement plumbing: spans, process-tree RSS, steal, and Spark's own
job, Catalyst and SQL-metric counters, all read from outside the program."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus counts.

    A disabled tracer records nothing; ``span`` still runs the body, so the
    same workload code serves traced and untraced runs.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"run": self.run_id, "counts": dict(self.counts)}) + "\n")

    def table(self) -> list[tuple[str, int, float, float]]:
        """(name, calls, total s, self s) per span name; self time is the
        span's duration minus the time its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        rows: dict[str, list] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            r = rows.setdefault(s["name"], [0, 0.0, 0.0])
            r[0] += 1
            r[1] += d
            r[2] += d - child[s["id"]]
        return [(k, v[0], v[1], v[2]) for k, v in rows.items()]


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.start = time.perf_counter()
        self.id = None
        if self.t.enabled:
            self.id = len(self.t.spans)
            self.t.spans.append(
                {"id": self.id, "name": self.name, "start": self.start, "end": None,
                 "parent": self.t._stack[-1] if self.t._stack else None,
                 "run": self.t.run_id}
            )
            self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.id is not None:
            self.t._stack.pop()
            self.t.spans[self.id]["end"] = self.end
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, rss bytes, cpu ticks) for every readable process;
    cpu ticks are user + system time, its reaped children's included."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rp = stat.rindex(")")
        comm = stat[stat.index("(") + 1 : rp]
        fields = stat[rp + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])
        out[int(d)] = (int(fields[1]), comm, int(fields[21]) * page, ticks)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers)."""
    table = _proc_table()
    ticks = sum(table[p][3] for p in descendants(os.getpid(), table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, *_rest) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` is still running (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stray_java() -> list[int]:
    """java processes that are not children of this process."""
    table = _proc_table()
    mine = set(descendants(os.getpid(), table))
    return [p for p, (_pp, comm, *_rest) in table.items() if comm == "java" and p not in mine]


class RssSampler:
    """Samples the process tree's RSS from /proc on a thread.

    Tracks the peak of the whole tree (this Python process, the JVM and its
    Python workers), of this process alone, and of the Python workers.
    """

    def __init__(self, every: float = 0.25):
        self.every = every
        self.peak_tree = self.peak_self = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def reset(self) -> None:
        self.peak_tree = self.peak_self = self.peak_workers = 0

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        tree = descendants(me, table)
        self.peak_tree = max(self.peak_tree, sum(table[p][2] for p in tree if p in table))
        self.peak_self = max(self.peak_self, table[me][2] if me in table else 0)
        workers = sum(
            table[p][2] for p in tree
            if p != me and p in table and table[p][1].startswith("python")
        )
        self.peak_workers = max(self.peak_workers, workers)

    def _run(self) -> None:
        while not self._stop.wait(self.every):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def steal_s() -> float:
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return int(parts[7]) / os.sysconf("SC_CLK_TCK") if len(parts) > 7 else 0.0


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


# ---------------------------------------------------------------- Spark


class SparkCounters:
    """Catalyst phase times and executed-plan SQL metrics per query, from a
    ``QueryExecutionListener`` registered on the session through py4j. Its
    callbacks walk each finished query's executed plan with AQE stages
    unwrapped. Only traced passes install it.
    """

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self._lock = threading.Lock()
        self._seen = 0
        self.totals: dict[str, float] = defaultdict(float)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Listener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    # listener side (runs on a py4j callback thread)
    def _on_query(self, qe) -> None:
        got: dict[str, float] = defaultdict(float)
        phases = qe.tracker().phases().iterator()
        while phases.hasNext():
            kv = phases.next()
            got[f"catalyst.{kv._1()}_ms"] += kv._2().durationMs()
        self._walk(qe.executedPlan(), got)
        with self._lock:
            for k, v in got.items():
                self.totals[k] += v
            self._seen += 1

    def _walk(self, plan, got) -> None:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return self._walk(plan.executedPlan(), got)
        if cls.endswith("QueryStageExec"):
            return self._walk(plan.plan(), got)
        # Rows out of the Python data source scan. Its pythonDataReceived
        # custom metric sums cumulative per-batch values and overcounts
        # bytes many times over, so bytes are not taken from it.
        if cls == "BatchScanExec" and "python" in plan.scan().getClass().getName().lower():
            got["python.rows"] += plan.metrics().apply("numOutputRows").value()
        elif "Python" in cls or "InPandas" in cls or "InArrow" in cls:
            # ArrowEvalPython, MapInPandas, MapInArrow, FlatMapGroupsInPandas...
            m = plan.metrics()
            for key, out in (("pythonNumRowsReceived", "python.rows"),
                             ("pythonDataSent", "python.bytes"),
                             ("pythonDataReceived", "python.bytes"),
                             ("pythonTotalTime", "python.time_ms")):
                if m.contains(key):
                    metric = m.apply(key)
                    scale = 1e-6 if metric.metricType() == "nsTiming" else 1.0
                    got[out] += metric.value() * (scale if out.endswith("_ms") else 1.0)
        for seq in (plan.children(), plan.subqueries()):
            c = seq.iterator()
            while c.hasNext():
                self._walk(c.next(), got)

    # caller side
    def settle(self, expected: int, timeout: float) -> None:
        """Wait until the listener has seen ``expected`` queries in total."""
        end = time.monotonic() + timeout
        while self._seen < expected and time.monotonic() < end:
            time.sleep(0.02)


class _Listener:
    def __init__(self, owner: SparkCounters):
        self.owner = owner

    def onSuccess(self, funcName, qe, durationNs):
        try:
            self.owner._on_query(qe)
        except Exception as exc:  # noqa: BLE001 - a probe failure must not kill the bus
            print(f"perfbench: listener error: {exc!r}", file=sys.stderr)
            with self.owner._lock:
                self.owner._seen += 1

    def onFailure(self, funcName, qe, exception):
        with self.owner._lock:
            self.owner._seen += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def job_group_counts(sc, group: str, timeout: float = 2.0) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle bytes and spill launched under ``group``
    so far, from Spark's status store. Waits (bounded) until those jobs have
    ended, so that their stages' task metrics are complete."""
    st = sc.statusTracker()
    end = time.monotonic() + timeout
    while True:
        jobs = st.getJobIdsForGroup(group)
        infos = [st.getJobInfo(j) for j in jobs]
        if all(i is None or i.status != "RUNNING" for i in infos) or time.monotonic() > end:
            break
        time.sleep(0.02)
    store = sc._jsc.sc().statusStore()
    got = {"exec.jobs": len(jobs), "exec.stages": 0, "exec.tasks": 0, "exec.shuffle_write_bytes": 0,
           "exec.shuffle_read_bytes": 0, "exec.spill_bytes": 0}
    for info in infos:
        if info is None:
            continue
        for s in list(info.stageIds):
            si = st.getStageInfo(s)
            if si is None:  # no longer in the status store
                continue
            got["exec.stages"] += 1
            got["exec.tasks"] += si.numTasks
            sd = store.lastStageAttempt(s)
            got["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            got["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            got["exec.spill_bytes"] += sd.memoryBytesSpilled()
    return got
