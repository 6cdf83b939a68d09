"""Cube-building benchmark: seeded inputs, closed-loop workloads, oracle checks.

Run from the repository root:

    python3 perfbench/run.py --workload build_mean --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): build_mean, build_jpeg, join_tiles, small_cubes.
A run generates (or re-verifies) its seeded input table and per-seed oracle,
starts a local Spark session on every available core several times to time
set-up (each cycle ends with the workload's first result), warms up, then
sends one query after another, in whole rounds of the workload's query
list, for at least ``--seconds`` seconds and the workload's query count,
and checks every output against ``tests/oracle_np.py``. Times are reported
net of hypervisor steal (see ``Timer``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` spends half the
window untraced and half with the Spark event log and the UDF profiler on,
and prints the per-layer metrics (layers.py, micro.py). The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. Run
reports, final query plans and the per-layer JSON are written under
``.perfbench_work/results/<workload>/``. The exit code is non-zero when any
query fails or any output differs from the oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 3
# checked but untimed queries before timing, in whole rounds of the query
# list. With the set-up cycles' queries the JIT has then seen the real query
# about seven times; the time per query falls over the first ten or so.
WARM_QUERIES = 4
DRIVER_MEMORY = "2g"


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def preflight() -> None:
    """Exit non-zero before any work when the engine or oracle is absent."""
    need = [os.path.join(ROOT, "gdalcubes_cpp_spark", "__init__.py"),
            os.path.join(ROOT, "tests", "oracle_np.py")]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        log(f"missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}; "
            "run from a full checkout")
        sys.exit(2)
    sys.path.insert(0, ROOT)


# -- processes ------------------------------------------------------------------

def _children() -> dict:
    """pid -> parent pid for every process on the host."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants() -> list:
    ppid = _children()
    found, frontier = [], [os.getpid()]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in ppid.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of the JVM and Python workers: the kernel's per-process
    high-water mark (VmHWM), polled so short-lived workers are not missed."""

    def __init__(self, period: float = 0.5):
        self.period, self.peak_kb = period, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        for pid in descendants():
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._poll()

    def __enter__(self):
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and every descendant, the
    reaped ones included through their parents' child totals."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Timer:
    """Wall time of a region, and that wall net of hypervisor steal.

    On a shared host the hypervisor preempts this VM's CPUs for other guests
    (``steal`` in /proc/stat), and the share it takes moves from minute to
    minute. The processes here were runnable for cpu + steal CPU-seconds and
    ran for cpu of them, so at an even steal rate the region would have
    taken ``wall * cpu / (cpu + steal)`` on a host of its own: that is
    ``net``, the time every end-to-end metric reports. Without steal it
    equals the wall."""

    def __enter__(self):
        self.cpu, self.steal = cpu_seconds(), steal_seconds()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = cpu_seconds() - self.cpu
        self.steal = steal_seconds() - self.steal
        busy = self.cpu + self.steal
        self.net = self.wall * self.cpu / busy if busy > 0 else self.wall


def _alive(pid: int) -> bool:
    """The process exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reap_leftovers() -> None:
    """Stop any process this run started that is still alive, and wait."""
    pids = descendants()
    # by now the JVM has exited; what is left (such as multiprocessing's
    # resource tracker, which ignores SIGTERM) gets a short grace
    for sig, grace in ((signal.SIGTERM, 0.5), (signal.SIGKILL, 10)):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline:
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)


# -- Spark sessions -------------------------------------------------------------

class Sessions:
    """Local Spark sessions on one JVM, configured to stay in the work dir."""

    def __init__(self, work: str, cores: int):
        self.cores = cores
        self.tmp = os.path.join(work, "tmp")
        self.local = os.path.join(work, "spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        pp = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        self.spark = None

    def start(self, extra: dict | None = None):
        from gdalcubes_cpp_spark.session import get_spark

        # a fixed-size heap (-Xms = -Xmx) so the JVM's peak RSS repeats run
        # to run; the engine's own ParallelGC choice is kept
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -Xms{DRIVER_MEMORY} -XX:+UseParallelGC "
                "-XX:-UsePerfData",
            "spark.local.dir": self.local,
        }
        conf.update(extra or {})
        self.spark = get_spark(app="perfbench", cores=self.cores, extra=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; it is reaped below
            traceback.print_exc()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def trace_conf(events: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    }


# -- the closed loop ------------------------------------------------------------

def final_plan(spark, df) -> str:
    """The executed (final AQE) plan in formatted mode, with expression ids,
    plan ids and input paths removed so two runs diff cleanly."""
    text = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    return re.sub(r"file:[^\],\s]+", "file:<input>", text)


class Loop:
    """One client sending the workload's queries back to back."""

    def __init__(self, workload: str, queries: list, oracles: dict, useful: dict):
        from layers import plan_counts
        from workloads import corrupt

        self.workload, self.queries = workload, queries
        self.oracles, self.useful = oracles, useful
        self._plan_counts, self._corrupt = plan_counts, corrupt
        self.records: list = []
        self.plans: dict = {}
        self.attempted = self.failed = 0
        self.check_verified = False
        self._n = 0

    def one(self, spark, images, q) -> dict | None:
        desc = f"perfbench:{self.workload}:{self._n}:{q.label}"
        self._n += 1
        self.attempted += 1
        spark.sparkContext.setJobDescription(desc)
        t0e = time.time()
        try:
            with Timer() as clock:
                df = q.dataframe(images)
                out = df.toPandas()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            spark.sparkContext.setJobDescription(None)
        t1e = time.time()
        want = self.oracles[q.label]
        ok = q.check(out, want)
        if not ok:
            self.failed += 1
            log(f"{q.label}: output differs from the oracle")
        if not self.check_verified and len(out):
            if q.check(self._corrupt(out), want):
                raise RuntimeError("the oracle check accepted a corrupted output")
            self.check_verified = True
        if q.label not in self.plans:
            self.plans[q.label] = final_plan(spark, df)
        rec = {"desc": desc, "label": q.label, "wall": clock.wall, "net": clock.net,
               "cpu": clock.cpu, "steal": clock.steal, "t0": t0e, "t1": t1e, "ok": ok,
               "useful": self.useful[q.label],
               "plan": self._plan_counts(self.plans[q.label])}
        self.records.append(rec)
        return rec

    def run_for(self, spark, images, seconds: float, min_queries: int) -> list:
        """Whole rounds of the query list until ``seconds`` have passed and
        ``min_queries`` were timed, so every run times the same mix."""
        start, recs, k = time.perf_counter(), [], 0
        while (k % len(self.queries) or time.perf_counter() - start < seconds
               or len(recs) < min_queries):
            rec = self.one(spark, images, self.queries[k % len(self.queries)])
            k += 1
            if rec is not None:
                recs.append(rec)
            elif self.failed > min_queries:
                break
        return recs


def first_result(spark, path: str, query) -> None:
    """The workload's first query on a fresh session, which ends a set-up
    cycle; its output is not checked."""
    query.dataframe(spark.read.parquet(path)).toPandas()


def tail(walls: list) -> tuple[float, int]:
    """The highest percentile with at least ten samples above it, and which
    percentile that is; with fewer than 11 samples, the maximum (100)."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100
    return s[n - 11], math.floor(100 * (n - 10) / n)


def git_commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


# -- main -------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build_mean", "build_jpeg", "join_tiles", "small_cubes"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    preflight()

    import inputs
    import workloads as W

    work = os.path.join(ROOT, ".perfbench_work")
    results = os.path.join(work, "results", args.workload)
    os.makedirs(os.path.join(results, "plans"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "cores_used": cores,
            "commit": git_commit(), "loadavg_start": os.getloadavg()}
    wl = W.WORKLOADS[args.workload]

    sessions = Sessions(work, cores)
    try:
        # The first set-up cycle starts the JVM; inputs and the oracle are
        # prepared meanwhile (outside every timed region of the queries).
        # That cycle is always the slowest, so the reported median does not
        # depend on the overlap.
        with Timer() as cold_clock:
            with ThreadPoolExecutor(max_workers=1) as ex:
                cold = ex.submit(sessions.start)
                t = time.perf_counter()
                tables_dir = os.path.join(work, "inputs")
                table = W.table(tables_dir, wl.table, args.seed).ensure(cores)
                info["gen_s"] = time.perf_counter() - t
                info["generated"] = table.generated
                queries = wl.queries(args.seed)
                t = time.perf_counter()
                # the cache key covers the view, so an edited query is recomputed
                oracles = {q.label: table.oracle(
                    f"{q.label}-{hashlib.sha256(repr(q.view).encode()).hexdigest()[:16]}",
                    lambda q=q: q.oracle(table)) for q in queries}
                info["oracle_s"] = time.perf_counter() - t
                useful = {q.label: q.useful(table.pdf) for q in queries}
                inputs.prune(tables_dir, keep={table.dir})
                images = len(table.pdf)
                log(f"inputs ready: {images} images, gen {info['gen_s']:.1f}s, "
                    f"oracle {info['oracle_s']:.1f}s")
                spark = cold.result()
                log(f"session up after {time.perf_counter() - cold_clock.t0:.1f}s")
            first_result(spark, table.path, queries[0])
        setups = [cold_clock]
        # later cycles restart the session on the warm JVM
        for _ in range(SETUP_CYCLES - 1):
            sessions.stop()
            with Timer() as clock:
                spark = sessions.start()
                first_result(spark, table.path, queries[0])
            setups.append(clock)
        info["setup_cycles_s"] = [c.wall for c in setups]
        info["setup_cycles_net_s"] = [c.net for c in setups]
        log("set-up cycles " + ", ".join(f"{c.wall:.2f}s (net {c.net:.2f}s)" for c in setups))

        loop = Loop(args.workload, queries, oracles, useful)
        with RssSampler() as rss:
            warmed = loop.run_for(spark, spark.read.parquet(table.path), 0, WARM_QUERIES)
            log(f"{len(warmed)} warm-up queries")
            # a traced run splits the window and the query count in halves
            window = args.seconds / (1 + args.trace)
            count = wl.timed // (1 + args.trace)
            recs = loop.run_for(spark, spark.read.parquet(table.path), window, count)
            log(f"{len(recs)} timed queries")
            if args.trace:
                events = os.path.join(work, "events", f"{args.workload}-seed{args.seed}")
                prof_dir = events + "-profile"
                for d in (events, prof_dir):
                    shutil.rmtree(d, ignore_errors=True)
                    os.makedirs(d)
                sessions.stop()
                spark = sessions.start(trace_conf(events))
                # the JIT is warm already; one round starts the Python workers
                loop.run_for(spark, spark.read.parquet(table.path), 0, 1)
                spark.profile.clear()
                log("traced session warm")
                traced = loop.run_for(spark, spark.read.parquet(table.path), window, count)
                log(f"{len(traced)} traced queries")
                spark.profile.dump(prof_dir)
                sessions.stop()  # flushes and closes the event log
        nets = [r["net"] for r in recs]
        p50 = statistics.median(nets)
        tail_s, tail_pct = tail(nets)
        info.update(queries_timed=len(nets), tail_percentile=tail_pct,
                    walls=[r["wall"] for r in recs], nets=nets,
                    cpu=[r["cpu"] for r in recs], steal=[r["steal"] for r in recs],
                    wall_p50=statistics.median(r["wall"] for r in recs),
                    failed_frac=loop.failed / max(loop.attempted, 1))
        metrics = {
            "images_per_s": {"value": images / p50, "unit": "img/s"},
            "query_s_p50": {"value": p50, "unit": "s"},
            "query_s_tail": {"value": tail_s, "unit": "s"},
            "setup_s": {"value": statistics.median(c.net for c in setups), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
        if args.trace:
            metrics = trace_metrics(args, recs, traced, images, cores, events, prof_dir,
                                    results)
    finally:
        sessions.shutdown()
        reap_leftovers()
        log("session shut down")

    for label, text in loop.plans.items():
        with open(os.path.join(results, "plans", f"{label}.txt"), "w") as f:
            f.write(text)
    info["loadavg_end"] = os.getloadavg()
    correct = loop.failed == 0 and loop.check_verified
    report = dict(info, correct=correct, attempted=loop.attempted, failed=loop.failed,
                  metrics=metrics)
    with open(os.path.join(results, f"run-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0 if correct else 1


def trace_metrics(args, untraced, traced, images, cores, events, prof_dir,
                  results) -> dict:
    import layers
    import micro

    logs = [os.path.join(events, f) for f in os.listdir(events)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events}, found {len(logs)}")
    ev = layers.EventLog(logs[0])
    prefix = f"perfbench:{args.workload}:"
    per_layer, stages = layers.layer_metrics(ev, layers.Profile(prof_dir), prefix,
                                             traced, cores)
    per_layer.update(micro.kernels(args.seed))
    ips_off = images / statistics.median(r["net"] for r in untraced)
    ips_on = images / statistics.median(r["net"] for r in traced)
    per_layer["trace.overhead_frac"] = 1.0 - ips_on / ips_off
    metrics = {name: {"value": value, "unit": layers.unit(name)}
               for name, value in sorted(per_layer.items())}
    with open(os.path.join(results, "layers.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                   "stages": stages, "traced_queries": len(traced)}, f, indent=1)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
