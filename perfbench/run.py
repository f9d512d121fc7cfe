"""Benchmark of the extraction job on this host's cores.

    python3 perfbench/run.py --workload ocr_shared_media --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. One run:

1. builds the workload's input from ``--seed`` on nproc worker processes
   (or reuses the copy cached under ``perfbench/.work/cache``);
2. sets up the session — ``session.get_spark`` with
   ``SPARK_GRAFT_CPUS=nproc`` and a host-sized ``SPARK_DRIVER_MEM``, which
   launches the JVM, then all ``nproc`` Python workers spawned; ``setup_s``
   is that start + spawn plus the first, cold job, all in this one process;
3. after that cold job and ``WARM_JOBS`` untimed ones, runs the production
   job as a closed loop (one job at a time, one driver, ``nproc`` task
   threads) for ``--seconds`` and at least ``MIN_JOBS`` jobs, reporting
   per-job medians (a traced run measures ``TRACED_JOBS`` jobs); every
   job's output is checked against the golden, untimed;
4. with ``--trace 1`` it then runs the staged layer chain and the kernel
   micro-timings, traces the layers of the workloads BENCHMARK.json leaves
   out over small inputs of their own (``workloads.SIDE_LAYERS``), and
   writes the per-operator plan profile beside the result record.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``). ``attempted``/``failed`` count
documents; a job that raises fails all of its documents. Layers that do not
run on a workload report 0. A full record (host stamp, per-job values) is
written under ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WARM_JOBS = 1     # untimed jobs after the cold one (part of setup_s): the
                  # first job after it still runs ~20% longer than the rest
                  # while the JVM compiles
MIN_JOBS = 2      # measured jobs per run, even past --seconds. The JIT
                  # keeps compiling through every job (job CPU still falls
                  # ~10% a job), so BENCHMARK.json's run_seconds is shorter
                  # than two jobs take even on a fast host: a third job
                  # there would move its median further down that curve.
                  # Set-up and the warm job already take ~35 s of a run; a
                  # run is kept near a minute.
TRACED_JOBS = 1   # measured jobs of a traced run, the base of its overhead
DEADLINE_S = 170  # a run must end within 180 s; one still going is killed


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 4.0


def configure_env(nproc: int) -> None:
    """Point Spark at this host's cores and a host-sized heap, and keep
    every file it writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{max(1, min(8, int(_mem_total_gb() // 4)))}g"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(tmp, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        "SPARK_SUBMIT_OPTS": (
            os.environ.get("SPARK_SUBMIT_OPTS", "")
            + f" -Djava.io.tmpdir={tmp}"
        ).strip(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _source_sha() -> dict:
    """git sha when the checkout is a repository, and always a content hash
    of the program's sources (a checkout need not be one)."""
    import hashlib
    import subprocess

    out = {"git_sha": None}
    try:
        out["git_sha"] = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for top in ("granulate_char_ocr_spark", "jobs", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    out["source_sha"] = h.hexdigest()
    return out


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    from perfbench.probe import CLK_TCK

    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


# --- sessions -------------------------------------------------------------

def _spawn_probe(batches):
    import pandas as pd

    # the modules every extraction task needs, imported once per worker
    import granulate_char_ocr_spark.operators.extract  # noqa: F401

    for pdf in batches:
        time.sleep(0.2)  # hold the worker so every task gets its own
        yield pd.DataFrame({"pid": [os.getpid()] * len(pdf)})


def spawn_workers(spark, nproc: int) -> int:
    """Run nproc concurrent Python tasks; return the distinct worker pids.
    (``limit(1)``-style warm-ups start only one worker.)"""
    pids = {
        r.pid
        for r in spark.range(0, nproc, 1, nproc)
        .mapInPandas(_spawn_probe, "pid long")
        .collect()
    }
    return len(pids)


def new_session():
    from granulate_char_ocr_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it and the
    Python workers it started have exited."""
    import subprocess

    from pyspark import SparkContext

    from perfbench.probe import descendants, reap

    started = descendants()
    try:
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    finally:
        # the JVM's Python workers are reparented when it exits
        reap(started, timeout=15)


# --- the run -------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: str = "default"):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.size = trace, size
        self.nproc = _nproc()
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{int(time.time())}"
        self.jobs_dir = os.path.join(WORK, "jobs", self.run_id)

    def _out(self, tag: str) -> str:
        return os.path.join(self.jobs_dir, tag)

    def setup(self) -> tuple[object, dict]:
        """The session (launching the JVM) with all nproc Python workers
        spawned."""
        t0 = time.perf_counter()
        spark = new_session()
        t1 = time.perf_counter()
        workers = spawn_workers(spark, self.nproc)
        t2 = time.perf_counter()
        if workers != self.nproc:
            raise RuntimeError(
                f"warm-up spawned {workers} of {self.nproc} Python workers")
        return spark, {"start_s": t1 - t0, "spawn_s": t2 - t1}

    def one_job(self, spark, wl, sampler, tag: str) -> dict:
        """Run the job once, timed and metered; then check its output."""
        from perfbench.probe import tree_usage
        from perfbench.workloads import clear

        out = self._out(tag)
        # one job's garbage must not land in the next (heap drift)
        spark._jvm.System.gc()
        load0, steal0 = _loadavg(), _steal_s()
        sampler.reset()
        cpu0, _ = tree_usage()
        t0 = time.perf_counter()
        error = None
        try:
            wl.job(spark, out)
        except Exception:  # a failed job fails all of its documents
            error = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        cpu1, _ = tree_usage()
        peak = sampler.peak()
        failed = wl.n_docs if error else wl.check(out)
        clear(out)
        return {
            "wall_s": wall, "cpu_s": cpu1 - cpu0, "peak_rss_b": peak,
            "docs": wl.n_docs, "failed": failed, "error": error,
            "loadavg_before": load0, "loadavg_after": _loadavg(),
            "steal_s": _steal_s() - steal0,
        }

    def loop(self, spark, wl, sampler) -> list[dict]:
        """Closed loop: one job after another for --seconds. A traced run
        measures only the jobs its tracing overhead is taken against."""
        min_jobs, seconds = ((TRACED_JOBS, 0.0) if self.trace
                             else (MIN_JOBS, self.seconds))
        jobs: list[dict] = []
        t_start = time.perf_counter()
        while (len(jobs) < min_jobs
               or time.perf_counter() - t_start < seconds):
            jobs.append(self.one_job(spark, wl, sampler, f"job{len(jobs)}"))
        return jobs

    def execute(self) -> dict:
        from perfbench import inputs, workloads
        from perfbench.probe import RssSampler, Tracer

        stamp = {
            "run_id": self.run_id, "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": self.trace, "size": self.size,
            "nproc": self.nproc, "host": platform.node(),
            "driver_heap": os.environ["SPARK_DRIVER_MEM"],
            "loadavg_start": _loadavg(), **_source_sha(), **_versions(),
        }
        cache = os.path.join(WORK, "cache")
        t0 = time.perf_counter()
        path, manifest = inputs.ensure_input(
            cache, self.workload, self.seed, self.size)
        side = None
        if self.trace and self.workload in workloads.SIDE_LAYERS:
            name = workloads.SIDE_LAYERS[self.workload]
            side = workloads.make(name, *inputs.ensure_input(
                cache, name, self.seed,
                "tiny" if self.size == "tiny" else "side"))
        stamp["input_s"] = time.perf_counter() - t0
        wl = workloads.make(self.workload, path, manifest)
        spark = None
        try:
            spark, setup = self.setup()
            with RssSampler() as sampler:
                cold = self.one_job(spark, wl, sampler, "cold")
                warm = [self.one_job(spark, wl, sampler, f"warm{i}")
                        for i in range(WARM_JOBS)]
                jobs = self.loop(spark, wl, sampler)
            layer, profile, traced = {}, None, []
            if self.trace:
                tracer = Tracer(self.run_id)
                out = self._out("traced")
                chain = {"workload": self.workload, "docs": wl.n_docs,
                         "failed": wl.n_docs, "error": None}
                plan: list[dict] = []
                try:
                    layer, plan = wl.staged(spark, tracer, out)
                    chain["failed"] = wl.check(out)
                except Exception:  # counted as failed, like a loop job
                    chain["error"] = traceback.format_exc(limit=3)
                workloads.clear(out)
                traced.append(chain)
                layer.update(wl.micro(self.seed))
                side_plan: list[dict] = []
                if side is not None:
                    side_run = {"workload": side.name, "docs": side.n_docs,
                                "failed": side.n_docs, "error": None}
                    try:
                        m, side_plan, side_run["failed"] = side.side_layers(
                            spark, tracer, self.seed)
                        layer.update(m)
                    except Exception:
                        side_run["error"] = traceback.format_exc(limit=3)
                    traced.append(side_run)
                profile = {"run_id": self.run_id, "spans": tracer.spans,
                           "operators": plan, "side_operators": side_plan,
                           "traced": traced}
        finally:
            shutdown(spark)
            workloads.clear(self.jobs_dir)
        stamp["loadavg_end"] = _loadavg()
        return self._summarize(stamp, manifest, setup, cold, jobs,
                               layer, profile, traced, warm)

    def _summarize(self, stamp, manifest, setup, cold, jobs, layer,
                   profile, traced=(), warm=()) -> dict:
        med = statistics.median
        ok_jobs = [j for j in jobs if j["error"] is None] or jobs
        end_to_end = {
            "docs_per_s": med(j["docs"] / j["wall_s"] for j in ok_jobs),
            "cpu_s_per_kdoc": med(
                1000 * j["cpu_s"] / j["docs"] for j in ok_jobs),
            "peak_rss_mb": med(j["peak_rss_b"] / (1 << 20) for j in ok_jobs),
            # session start (JVM launch) + worker spawn + the first, cold job
            "setup_s": setup["start_s"] + setup["spawn_s"] + cold["wall_s"],
        }
        # every job's output is checked: cold and warm jobs, loop, traced
        # chain and side layers
        checked = [cold, *warm, *jobs, *traced]
        attempted = sum(j["docs"] for j in checked)
        failed = sum(j["failed"] for j in checked)
        per_layer = dict(layer)
        after_cold = [*warm, *jobs]
        per_layer.update({
            "session.start_s": setup["start_s"],
            "session.spawn_s": setup["spawn_s"],
            "session.warm_s": cold["wall_s"],
            "input.docs": manifest["docs"],
            "input.media_spans": manifest["media_spans"],
            "input.distinct_images": manifest["distinct_images"],
            "loop.jobs": len(jobs),
            # CPU time the hypervisor gave other guests during the loop, per
            # CPU-second of loop wall time; a run on a contended host reads
            # worse on every end-to-end metric
            "host.steal_share": sum(j["steal_s"] for j in jobs)
            / (self.nproc * sum(j["wall_s"] for j in jobs)),
            # heap drift: the last job after the cold one against the first
            "loop.last_over_first": after_cold[-1]["wall_s"]
            / after_cold[0]["wall_s"],
            "failed_share": failed / attempted,
        })
        if "trace.docs_per_s" in per_layer:
            per_layer["trace.overhead_share"] = (
                1 - per_layer["trace.docs_per_s"] / end_to_end["docs_per_s"]
            )
        if profile is not None:
            per_layer.update(spark_totals(profile["operators"]))
        return {
            "stamp": stamp, "input": manifest, "setup": setup,
            "cold": cold, "warm": list(warm), "jobs": jobs,
            "end_to_end": end_to_end, "per_layer": per_layer,
            "attempted": attempted, "failed": failed, "profile": profile,
        }


def spark_totals(rows: list[dict]) -> dict:
    from perfbench.probe import PYTHON_OPS, sum_metric

    return {
        "spark.shuffle_mb": sum_metric(rows, "shuffleBytesWritten") / (1 << 20),
        "spark.spill_mb": sum_metric(rows, "spillSize") / (1 << 20),
        "spark.python_init_s": sum_metric(rows, "pythonInitTime", PYTHON_OPS),
    }


def result_line(summary: dict, spec: dict, trace: bool) -> dict:
    """The result object: every metric of BENCHMARK.json's chosen group,
    by name with its unit (0 for a layer the workload does not run)."""
    group = spec["per_layer" if trace else "end_to_end"]
    values = summary["per_layer" if trace else "end_to_end"]
    return {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in group
        },
    }


def write_record(summary: dict) -> str:
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, summary["stamp"]["run_id"])
    profile = summary.pop("profile")
    if profile is not None:
        with open(base + "-profile.json", "w") as f:
            json.dump(profile, f, indent=1, default=str)
        summary["profile_file"] = os.path.relpath(base + "-profile.json", ROOT)
    with open(base + ".json", "w") as f:
        json.dump(summary, f, indent=1, default=str)
    return base + ".json"


def _watchdog(seconds: float) -> None:
    """Kill the whole process tree if the run overstays its deadline."""
    def fire():
        from perfbench.probe import descendants, reap

        print(f"perfbench: run exceeded {seconds:.0f} s; killing it",
              file=sys.stderr, flush=True)
        reap(descendants(), timeout=0)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    default=load_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="input size; 'tiny' is for the benchmark's tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "granulate_char_ocr_spark")):
        print("perfbench: no granulate_char_ocr_spark package beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec()
    _watchdog(DEADLINE_S)
    configure_env(_nproc())
    summary = Run(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.size).execute()
    line = result_line(summary, spec, bool(args.trace))
    path = write_record(summary)
    print(json.dumps({"record": os.path.relpath(path, ROOT),
                      "stamp": summary["stamp"]}))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
