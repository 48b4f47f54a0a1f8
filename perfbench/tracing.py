"""Out-of-program measurement for the kgforge benchmark.

Everything here runs in the benchmark process and touches no kgforge
source file:

* ``Tracer`` records spans (name, start, end, parent, run id) around calls
  into kgforge's public functions by swapping module attributes for
  wrappers, sets a Spark job description per span so Spark's own stage
  metrics attribute to it, and collects Python-UDF time from the
  ``perf`` UDF profiler per span.
* ``stage_metrics`` / ``sql_metric_max`` read Spark's status stores (both
  work with the UI disabled) and group by job description.
* ``ProcTree`` / ``PeakRss`` read ``/proc`` for the CPU time and resident
  memory of the whole process tree: driver Python, the JVM and its Python
  workers.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory span recorder; spans are written out once, by the caller,
    when the benchmark ends."""

    prefix = "pb"  # job descriptions read "pb:<run id>:<span name>"

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.run_id = ""
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def desc(self, name: str) -> str:
        return f"{self.prefix}:{self.run_id}:{name}"

    @contextlib.contextmanager
    def span(self, name: str, udf_time: bool = False):
        """One span; Spark jobs started inside carry its job description.
        With ``udf_time`` the perf profiler's total is read and cleared
        when the span ends and stored as ``python_s``."""
        sc = self.spark.sparkContext
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(self.desc(name))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setJobDescription(outer)
            if udf_time:
                rec["python_s"] = udf_seconds(self.spark)

    def wrap(self, module, attr: str, name_of, udf_time: bool = False) -> None:
        """Replace ``module.attr`` with a spanning wrapper until
        ``unpatch``. ``name_of(*args, **kwargs)`` names the span."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs), udf_time=udf_time):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def replace(self, module, attr: str, new) -> None:
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def unpatch(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def run_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run_id]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    of one span run one after another on the driver thread)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def udf_seconds(spark) -> float:
    """Total Python time the ``perf`` UDF profiler recorded since it was
    last cleared, summed over UDFs and worker processes; clears it."""
    collector = spark._profiler_collector
    total = sum(s.total_tt for s in collector._perf_profile_results.values())
    spark.profile.clear(type="perf")
    return total


def stage_metrics(spark, prefix: str) -> dict[str, dict[str, float]]:
    """Spark stage metrics summed per job description, for descriptions
    starting with ``prefix``. Reads ``statusStore().stageList``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out: dict[str, dict[str, float]] = {}
    for i in range(stages.size()):
        st = stages.apply(i)
        d = st.description()
        if not d.isDefined() or not d.get().startswith(prefix):
            continue
        agg = out.setdefault(
            d.get(),
            {
                "cpu_s": 0.0,
                "shuffle_bytes": 0,
                "spill_bytes": 0,
                "rows_out": 0,
                "output_bytes": 0,
                "tasks": 0,
            },
        )
        agg["cpu_s"] += st.executorCpuTime() / 1e9
        agg["shuffle_bytes"] += st.shuffleWriteBytes()
        agg["spill_bytes"] += st.diskBytesSpilled()
        agg["rows_out"] += st.outputRecords()
        agg["output_bytes"] += st.outputBytes()
        agg["tasks"] += st.numTasks()
    return out


def sql_metric_max(spark, description: str, metric: str) -> int:
    """Largest value of one SQL plan metric (e.g. "number of partitions
    read") over the plan nodes of the SQL executions carrying
    ``description``; adaptive re-planning lists a node's metric more than
    once, so values are not summed."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    best = 0
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.description() != description:
            continue
        values = store.executionMetrics(ex.executionId())
        plan_metrics = ex.metrics()
        for j in range(plan_metrics.size()):
            pm = plan_metrics.apply(j)
            if pm.name() != metric:
                continue
            v = values.get(pm.accumulatorId())
            if v.isDefined():
                best = max(best, int(v.get().replace(",", "").split()[0]))
    return best


class ProcTree:
    """This process and all its descendants."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            stat = _read_stat(int(name))
            if stat is not None:
                children.setdefault(int(stat[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_seconds(self) -> float:
        """User + system time of every live process in the tree, plus that
        of the children they have reaped."""
        total = 0
        for pid in self.pids():
            stat = _read_stat(pid)
            if stat is not None:
                total += sum(int(x) for x in stat[11:15])
        return total / _CLK_TCK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                continue
        return total


def _read_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: [state, ppid,
    ...]; utime/stime/cutime/cstime are at indices 11-14."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


class PeakRss:
    """Samples the tree's resident set every 0.1 s on a background thread
    between ``start`` and ``stop``; ``peak`` in bytes."""

    period = 0.1

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss_bytes())
            if self._halt.wait(self.period):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.tree.rss_bytes())
        return self.peak
