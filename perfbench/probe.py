"""Measurement from outside the program: /proc process-tree accounting,
Spark executed-plan metrics, and in-memory trace spans."""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# --- /proc process tree -------------------------------------------------------

def _proc_stats() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        rest = raw[raw.rfind(b")") + 2:].split()
        # fields 4.. of proc(5): ppid utime stime cutime cstime ... rss
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (int(rest[1]), ticks / CLK_TCK, int(rest[21]) * PAGE)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    return _tree(_proc_stats(), os.getpid())[1:]


def reap(pids: list[int], timeout: float) -> None:
    """Wait up to ``timeout`` seconds for ``pids`` to exit; kill the rest."""
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        time.sleep(0.1)
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def tree_usage() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over this process and its
    descendants: the benchmark process, the Spark JVM and its Python
    workers."""
    stats = _proc_stats()
    pids = [p for p in _tree(stats, os.getpid()) if p in stats]
    return (sum(stats[p][1] for p in pids), sum(stats[p][2] for p in pids))


class RssSampler:
    """Background thread sampling the tree's resident memory; ``peak()``
    returns the highest sum seen since the last ``reset()``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.interval):
            _, rss = tree_usage()
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        _, rss = tree_usage()
        with self._lock:
            self._peak = rss

    def peak(self) -> int:
        _, rss = tree_usage()
        with self._lock:
            return max(self._peak, rss)


# --- Spark executed-plan metrics ---------------------------------------------

def _to_java(jvm, scala_coll):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


def _metric_value(value: int, metric_type: str) -> float:
    """SQL metric → seconds for timings, bytes for sizes, else the count."""
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return float(value)


def plan_rows(spark, plan, stage: str) -> list[dict]:
    """One row per physical operator of an executed plan, descending through
    ``AdaptiveSparkPlan`` and query stages. A scan of the plan's own cache is
    replaced by the plan that built the cache; cache scans inside that plan
    belong to earlier stages and are not descended."""
    jvm = spark._jvm
    rows: list[dict] = []

    def visit(node, depth: int, parent: int | None, in_cache: bool) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "InMemoryTableScanExec" and not in_cache:
            visit(node.relation().cachedPlan(), depth, parent, True)
            return
        metrics = {
            k: _metric_value(v.value(), v.metricType())
            for k, v in _to_java(jvm, node.metrics()).items()
        }
        row = {
            "stage": stage,
            "op": cls,
            "node": node.nodeName(),
            "id": int(node.id()),
            "parent": parent,
            "depth": depth,
            "metrics": metrics,
        }
        rows.append(row)
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "InMemoryTableScanExec":
            kids = []
        else:
            kids = list(_to_java(jvm, node.children()))
        for kid in kids:
            visit(kid, depth + 1, row["id"], in_cache)

    visit(plan, 0, None, False)
    return rows


def df_plan_rows(df, stage: str) -> list[dict]:
    return plan_rows(df.sparkSession, df._jdf.queryExecution().executedPlan(),
                     stage)


def sum_metric(rows: list[dict], name: str, ops: tuple[str, ...] = ()) -> float:
    return sum(
        r["metrics"].get(name, 0.0)
        for r in rows
        if not ops or r["op"] in ops
    )


PYTHON_OPS = ("MapInPandasExec", "ArrowEvalPythonExec", "MapInArrowExec",
              "BatchEvalPythonExec", "FlatMapGroupsInPandasExec",
              "AggregateInPandasExec", "WindowInPandasExec")


# --- trace spans --------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str):
        return _Span(self, name)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "run_id": t.run_id,
            "id": len(t.spans),
            "name": self.name,
            "parent": t._open[-1] if t._open else None,
            "start": time.perf_counter() - t._t0,
            "end": None,
        }
        t.spans.append(self.rec)
        t._open.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter() - self.tracer._t0
        self.tracer._open.pop()
