"""Run one workload for one seed and build its record.

A run makes three Spark set-ups in one process (four with ``--trace 1``).
Each is timed from the start of the set-up to the end of its warm-up; the
first from process start, so it includes interpreter start, imports and the
JVM launch, the others (a new SparkContext in the running JVM) from the
previous stop. ``setup_s`` is their median.

With ``--trace 0``:

1. local[4]: builds or checks the cached inputs and computes the reference
   values for the checks; one untimed pass (the first pass of a JVM takes
   about twice the steady wall while the JVM compiles the hot code), then
   two timed passes;
2. local[1]: two timed passes, the one-core side of ``scale_eff_1to4``;
3. local[4]: one more timed pass.

The one-core session sits between two four-core ones. Pass walls keep
drifting over a run (the JVM goes on compiling for ten passes and more), so
a four-core median taken on both sides of the one-core passes is not biased
by that drift the way passes taken only before them are. ``rows_per_s`` is
the median of the three four-core walls, the one-core wall the mean of two.

With ``--trace 1``, four local[4] sessions:

1. inputs, references and one untimed pass, as above;
2. one untraced pass;
3. two traced passes: writes a Spark event log and tags jobs with span job
   groups;
4. one more untraced pass. The untraced passes on both sides of the traced
   ones are the base of ``trace.overhead``.

Sessions run passes back to back until their share of ``--seconds`` is
used, and at least their least count. Between two passes, cached frames
are dropped and a JVM GC is requested, so the ContextCleaner removes the
previous pass's shuffle files, and the workload deletes what the pass
wrote. Every pass's outputs are checked; a pass that raises or fails a
check counts as failed. A pass that completes with a wrong output is still
timed.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import time

from perfbench import layers
from perfbench.inputs import dir_bytes
from perfbench.trace import EventLog, Tracer

HEAP = "2g"
# (kind, cores, untimed passes, least timed passes, share of --seconds).
# "wide" and "one" passes give the end-to-end walls, "traced" passes the
# per-layer metrics and "compare" passes the untraced base of trace.overhead
TIMED = (("wide", 4, 1, 2, 0.4), ("one", 1, 0, 2, 0.4), ("wide", 4, 0, 1, 0.2))
TRACED = (("wide", 4, 1, 0, 0.0), ("compare", 4, 0, 1, 0.25),
          ("traced", 4, 0, 2, 0.5), ("compare", 4, 0, 1, 0.25))


# ---------------------------------------------------------------------------
# box facts and process memory
# ---------------------------------------------------------------------------

def _meminfo() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def _tmpfs_used(path: str = "/dev/shm") -> int | None:
    try:
        st = os.statvfs(path)
    except OSError:
        return None
    return (st.f_blocks - st.f_bfree) * st.f_frsize


def box_facts() -> dict:
    import pyarrow
    import pyspark
    mem = _meminfo()
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "mem_total": mem.get("MemTotal"),
            "mem_available": mem.get("MemAvailable"),
            "tmpfs_used": _tmpfs_used(),
            "heap": HEAP, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def peak_rss_bytes() -> int:
    """Peak resident memory (VmHWM) of the JVM plus the Python workers:
    every process below this one."""
    return sum(_hwm_bytes(p) for p in descendants(os.getpid()))


def process_start_time() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------

class Sessions:
    """Starts the run's Spark sessions and stops the JVM at the end."""

    def __init__(self, work_dir: str, modules: tuple[str, ...]):
        self.work_dir = work_dir
        self.modules = modules
        self.spark = None
        self.event_dir: str | None = None
        self.stop_s: list[float] = []

    def start(self, cores: int, traced: bool, t0: float | None) -> dict:
        """Stop the current session (if any) and set up a new one; returns
        the set-up timings, measured from ``t0`` (default: after the stop)."""
        from gdal_spark.session import get_spark
        t_stop = time.time()
        if self.spark is not None:
            self.spark.stop()
        self.stop_s.append(time.time() - t_stop)
        if t0 is None:
            t0 = time.time()
        conf = {"spark.driver.memory": HEAP,
                "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
                # Spark deletes its local directory at every stop; one
                # subdirectory instead of 64 cuts that from about 3 s to 1 s
                # where deleting written-back files is slow (see README.md)
                "spark.diskStore.subDirectories": "1",
                "spark.ui.showConsoleProgress": "false"}
        if traced:
            self.event_dir = os.path.join(self.work_dir, "eventlog")
            shutil.rmtree(self.event_dir, ignore_errors=True)
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        else:
            conf["spark.eventLog.enabled"] = "false"
        t1 = time.time()
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        t2 = time.time()
        _warm_up(self.spark, cores, self.modules)
        t3 = time.time()
        return {"setup_s": t3 - t0, "start_s": t2 - t1, "warmup_s": t3 - t2}

    def event_log_path(self) -> str:
        app = self.spark.sparkContext.applicationId
        hits = [os.path.join(self.event_dir, n) for n in os.listdir(self.event_dir)
                if app in n]
        return hits[0]

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until every child process has
        exited."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        kids = descendants(os.getpid())
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def _warm_up(spark, cores: int, modules: tuple[str, ...]) -> None:
    """First jobs of a session: starts one Python worker per core and
    imports pandas, pyarrow and the workload's engine modules in them, then
    collects a frame made from Python rows. The first such collect in a
    session takes about half a second more than later ones, and every pass
    collects frames made that way (polygon layers, query samples)."""
    def warm(batches):
        import importlib
        for m in modules:
            importlib.import_module(m)
        yield from batches
    n = spark.range(0, cores * 4, 1, cores).mapInPandas(warm, "id long").count()
    rows = spark.createDataFrame([(n,)], "n long").collect()
    if n != cores * 4 or rows[0]["n"] != n:
        raise RuntimeError(f"warm-up jobs returned {n} rows, then {rows}")


def _between_passes(spark) -> None:
    spark.catalog.clearCache()
    spark._jvm.System.gc()


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def supported_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples above it."""
    if n < 11:
        return None
    return int(100 * (n - 10) / n)


def percentile(xs, p: int) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(len(s) * p / 100))]


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def run(workload_cls, seed: int, seconds: float, trace: bool, root: str,
        scale: float = 1.0, sessions=None) -> tuple[dict, dict]:
    """Run a workload; returns (record, detail). ``sessions`` defaults to
    ``TRACED`` or ``TIMED``."""
    if sessions is None:
        sessions = TRACED if trace else TIMED
    t_proc = process_start_time()
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    box_before = box_facts()
    wl = workload_cls(os.path.join(work, "inputs"), seed, scale)
    sess = Sessions(work, workload_cls.modules)
    wide = max(s[1] for s in sessions)
    setups, walls, failures, resume = [], {}, [], []
    attempted = failed = peak = local_peak = 0
    traced_passes, compare = [], []
    tracer = ev_path = None
    prepared = False
    phases = {"prepare_s": 0.0, "check_s": 0.0, "cleanup_s": 0.0,
              "between_s": 0.0}
    try:
        for kind, cores, untimed, min_passes, share in sessions:
            traced = kind == "traced"
            setups.append(sess.start(cores, traced,
                                     None if setups else t_proc))
            spark = sess.spark
            tr = Tracer(spark.sparkContext if traced else None)
            if not prepared:
                t1 = time.time()
                wl.prepare(spark)
                _between_passes(spark)
                phases["prepare_s"] = time.time() - t1
                prepared = True
            wl.bind(spark)
            n_done, t_start = 0, time.time()
            while (n_done < untimed + min_passes
                   or time.time() - t_start < share * seconds):
                if n_done:
                    t1 = time.time()
                    _between_passes(spark)
                    phases["between_s"] += time.time() - t1
                tr.pass_id += 1
                t1 = time.time()
                out = None
                try:
                    with tr.span("pass"):
                        out = wl.run_pass(spark, tr)
                    wall = time.time() - t1
                    errs = wl.check(spark, out)
                    phases["check_s"] += time.time() - t1 - wall
                except Exception as e:  # a failed pass is counted, not fatal
                    errs = [f"{type(e).__name__}: {e}"]
                finally:
                    local_peak = max(local_peak, dir_bytes(
                        os.path.join(work, "spark-local"))[0])
                    t1 = time.time()
                    wl.cleanup()
                    phases["cleanup_s"] += time.time() - t1
                attempted += 1
                n_done += 1
                if errs:
                    failed += 1
                    failures.extend(errs)
                if out is None or n_done <= untimed:
                    continue
                if traced:
                    traced_passes.append((tr.pass_id, wall, out))
                    continue
                if kind == "compare":
                    compare.append(wall)
                else:
                    walls.setdefault(cores, []).append(wall)
                if "resume_s" in out and (kind == "compare" or cores == wide):
                    resume.append(out["resume_s"])
            peak = max(peak, peak_rss_bytes())
            if traced:
                tr.dump(os.path.join(work, "spans.jsonl"))
                ev_path = sess.event_log_path()
                tracer = tr
    finally:
        t1 = time.time()
        sess.close()  # also flushes and closes the event log
        phases["close_s"] = time.time() - t1
        phases["stop_s"] = sess.stop_s

    rows = wl.input_rows
    w_wide, w_one = walls.get(wide, []), walls.get(1, [])
    e2e = {"rows_per_s": rows / median(w_wide),
           "setup_s": median([s["setup_s"] for s in setups]),
           "scale_eff_1to4": median(w_one) / (wide * median(w_wide))}
    if trace:
        per_pass = []
        if tracer is not None:
            ev = EventLog(ev_path)
            per_pass = [layers.pass_layers(ev, tracer, pid, w, wide, o)
                        for pid, w, o in traced_passes]
        lm = {k: median([p[k] for p in per_pass]) for k in per_pass[0]} \
            if per_pass else {}
        lm["session.start_s"] = median([s["start_s"] for s in setups])
        lm["session.warmup_s"] = median([s["warmup_s"] for s in setups])
        lm["trace.overhead"] = (median([w for _p, w, _o in traced_passes])
                                / median(compare))
        lm["resume_s"] = median(resume) if resume else 0.0
        lm["fail_frac"] = failed / max(attempted, 1)
        lm["peak_rss_mb"] = peak / 2 ** 20
        metrics = {k: {"value": float(v), "unit": layers.UNITS[k]}
                   for k, v in sorted(lm.items())}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    record = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    p = supported_percentile(len(w_wide))
    detail = {
        "workload": workload_cls.name, "seed": seed, "seconds": seconds,
        "trace": int(trace), "scale": scale, "input_rows": rows,
        "end_to_end": {k: v for k, v in e2e.items() if math.isfinite(v)},
        "pass_walls": {str(c): v for c, v in walls.items()},
        "passes": {str(c): len(v) for c, v in walls.items()},
        "rows_per_s_percentile": (
            {"p": p, "rows_per_s": rows / percentile(w_wide, p)} if p else None),
        "fail_frac": failed / max(attempted, 1), "failures": failures[:10],
        "setups": setups, "phases": phases, "resume_s": resume,
        "run_s": time.time() - t_proc,
        "box_before": box_before, "box_after": box_facts(),
        "spark_local_peak_bytes": local_peak,
    }
    with open(os.path.join(work, f"record-{workload_cls.name}.json"), "w") as f:
        json.dump({"record": record, "detail": detail}, f, indent=1)
    return record, detail


E2E_UNITS = {"rows_per_s": "rows/s", "scale_eff_1to4": "ratio", "setup_s": "s"}

