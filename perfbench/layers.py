"""Per-layer metrics of a traced run, measured from outside the engine.

Inputs are what Spark and the benchmark itself provide:

* the Spark event log of the traced session (task metrics, SQL plan-node
  metrics, stage intervals), with every benchmark query's jobs tagged by
  the job description ``perfbench:<workload>:<n>:<label>``;
* the PySpark UDF profiler (``spark.sql.pyspark.udf.profiler=perf``) dump;
* the query walls, useful-image counts and final plans the benchmark took.

Each stage's task time goes to one layer, chosen from the plan nodes whose
SQL metrics its tasks updated: FlatMapGroupsInPandas -> build chunk kernel,
MapInPandas -> build scan, BroadcastNestedLoopJoin -> stjoin probe,
HashAggregate keyed on ``it`` -> build aggregate, other HashAggregate ->
cube reduce_time, RoundRobin Exchange write -> partition, file scan ->
sources. Metrics are per query (totals divided by the traced query count).
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import re
import statistics

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "MapInArrow", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow")


class Node:
    def __init__(self, info: dict):
        self.name = info["nodeName"].strip()
        self.desc = info.get("simpleString", "")
        self.metrics = {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])}

    def keys(self) -> set:
        """Grouping or partitioning columns, without expression ids."""
        m = re.search(r"(?:keys=\[|hashpartitioning\()([^\]\)]*)", self.desc)
        if not m:
            return set()
        keys = {re.sub(r"#\d+L?$", "", k.strip()) for k in m.group(1).split(",")}
        return {k for k in keys if k and not k.isdigit()}  # drop the partition count

    @property
    def round_robin(self) -> bool:
        return self.name == "Exchange" and "RoundRobinPartitioning" in self.desc


def _walk(info: dict, out: list) -> None:
    out.append(Node(info))
    for child in info.get("children", []):
        _walk(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The parts of one application's event log the layer metrics need."""

    def __init__(self, path: str):
        self.plans: dict[int, dict] = {}      # execution id -> latest plan info
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}      # stage id -> stage info
        self.tasks: dict[int, list] = {}       # stage id -> successful task ends
        self.driver_accums: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    self.plans[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == "SparkListenerJobStart":
                    self.jobs.append(e)
                elif kind == "SparkListenerStageCompleted":
                    self.stages[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
                elif kind == "SparkListenerTaskEnd":
                    if e["Task End Reason"].get("Reason") == "Success":
                        self.tasks.setdefault(e["Stage ID"], []).append(e)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in e["accumUpdates"]:
                        self.driver_accums[acc] = self.driver_accums.get(acc, 0.0) + _num(val)
        self.nodes: dict[int, list] = {}
        for eid, info in self.plans.items():
            self.nodes[eid] = []
            _walk(info, self.nodes[eid])

    def query_jobs(self, prefix: str) -> dict:
        """job description -> (stage ids, execution ids), for tagged jobs."""
        out: dict = {}
        for j in self.jobs:
            desc = (j.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(prefix):
                stages, execs = out.setdefault(desc, (set(), set()))
                stages.update(j["Stage IDs"])
                eid = j["Properties"].get("spark.sql.execution.id")
                if eid is not None:
                    execs.add(int(eid))
        return out


def _stage_layer(nodes: list, written: set) -> str | None:
    names = {n.name for n in nodes}
    if "FlatMapGroupsInPandas" in names:
        return "build.chunk_kernel"
    if "MapInPandas" in names:
        return "build.scan"
    if "BroadcastNestedLoopJoin" in names:
        return "stjoin.probe"
    aggs = [n for n in nodes if n.name == "HashAggregate"]
    if aggs:
        return "build.aggregate" if any("it" in n.keys() for n in aggs) else "cube.reduce_time"
    if any(n.round_robin and n.metrics.get("shuffle bytes written") in written for n in nodes):
        return "partition.spread"
    if any(n.name.startswith("Scan") for n in nodes):
        return "sources.scan"
    if "Range" in names:
        return "stjoin.chunks"
    return None


class Profile:
    """UDF profiler totals over every pstats file of one dump directory."""

    def __init__(self, dump_dir: str):
        self.files = []
        for p in sorted(glob.glob(os.path.join(dump_dir, "*.pstats"))):
            self.files.append(pstats.Stats(p).stats)

    @staticmethod
    def _pick(stats: dict, module: str, func: str) -> tuple[int, float]:
        """Calls and cumulative seconds of ``func`` in file ``module``
        (profiles record the file's base name)."""
        calls, cum = 0, 0.0
        for (fn, _line, name), (_cc, nc, _tt, ct, _callers) in stats.items():
            if name == func and os.path.basename(fn) == module:
                calls, cum = calls + nc, cum + ct
        return calls, cum

    def total(self, module: str, func: str) -> tuple[int, float]:
        calls, cum = 0, 0.0
        for st in self.files:
            c, t = self._pick(st, module, func)
            calls, cum = calls + c, cum + t
        return calls, cum

    def scan_kernel_self(self) -> float:
        """Scan-UDF time with payload decoding taken out."""
        out = 0.0
        for st in self.files:
            _, scan = self._pick(st, "build.py", "scan")
            if scan:
                out += scan - self._pick(st, "codecs.py", "decode")[1]
        return out


def plan_counts(plan_text: str) -> dict:
    """Shape counts of the final plan in one formatted AQE explain output."""
    tree = plan_text.split("== Initial Plan ==")[0].split("\n\n")[0]
    nodes = []  # (name, id) of every node in the final plan tree
    for line in tree.splitlines():
        m = re.match(r"[\s:+\-*|]*(\w+).*?\((\d+)\)(?:, Statistics.*)?$", line)
        if m:
            nodes.append(m.groups())
    details = {m.group(1): m.group(0) for m in
               re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan_text, re.M | re.S)}
    return {
        "exchanges": sum(1 for n, _ in nodes if n in ("Exchange", "BroadcastExchange")),
        "python_nodes": sum(1 for n, _ in nodes if n in PYTHON_NODES),
        "spread_exchanges": sum(1 for n, i in nodes if n == "Exchange"
                                and "RoundRobinPartitioning" in details.get(i, "")),
    }


def layer_metrics(log: EventLog, prof: Profile, prefix: str, queries: list,
                  cores: int) -> tuple[dict, list]:
    """Per-query layer metrics and per-stage rows.

    ``queries``: one dict per traced query with ``desc`` (its job
    description), ``t0``/``t1`` (epoch seconds), ``wall``, ``useful`` and
    ``plan`` (shape counts of its final plan)."""
    tagged = log.query_jobs(prefix)
    tot: dict[str, float] = {}
    stage_rows, skews, covered_walls = [], [], []

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + float(v)

    for q in queries:
        stage_ids, exec_ids = tagged.get(q["desc"], (set(), set()))
        nodes = [n for e in exec_ids for n in log.nodes.get(e, [])]
        by_acc = {acc: n for n in nodes for acc in n.metrics.values()}
        accs: dict[int, float] = {}
        intervals = []
        for sid in sorted(stage_ids):
            tasks = log.tasks.get(sid, [])
            info = log.stages.get(sid)
            if not tasks or info is None:
                continue
            written: set = set()
            for t in tasks:
                for a in t["Task Info"]["Accumulables"]:
                    if a["ID"] in by_acc:
                        written.add(a["ID"])
                        accs[a["ID"]] = accs.get(a["ID"], 0.0) + _num(a.get("Update"))
            stage_nodes = list({id(by_acc[a]): by_acc[a] for a in written}.values())
            layer = _stage_layer(stage_nodes, written)
            run_s = [t["Task Metrics"]["Executor Run Time"] / 1e3 for t in tasks]
            row = {
                "stage": sid, "layer": layer, "tasks": len(tasks),
                "task_s": sum(run_s),
                "cpu_s": sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks) / 1e9,
                "gc_s": sum(t["Task Metrics"]["JVM GC Time"] for t in tasks) / 1e3,
                "spill_bytes": sum(t["Task Metrics"]["Disk Bytes Spilled"] for t in tasks),
                "nodes": sorted({n.name for n in stage_nodes}),
            }
            stage_rows.append(dict(row, query=q["desc"]))
            add("stages", 1)
            add("tasks", row["tasks"])
            add("task_s", row["task_s"])
            add("cpu_s", row["cpu_s"])
            add("gc_s", row["gc_s"])
            if layer is not None:
                add("attributed_s", row["task_s"])
                add(f"{layer}_s", row["task_s"])
                if layer.startswith("build"):
                    add("build_spill", row["spill_bytes"])
            busy = [r for r, t in zip(run_s, tasks)  # tasks that got at least one group
                    if t["Task Metrics"]["Shuffle Read Metrics"]["Total Records Read"]]
            if layer == "build.chunk_kernel" and len(busy) > 1:
                skews.append(max(busy) / max(statistics.median(busy), 1e-3))
            intervals.append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
        for acc, v in log.driver_accums.items():
            if acc in by_acc:
                accs[acc] = accs.get(acc, 0.0) + v
        covered_walls.append((q["wall"], _covered(intervals, q["t0"], q["t1"])))

        def metric(pred, name):
            return sum(accs.get(n.metrics.get(name), 0.0) for n in nodes if pred(n))

        rows = metric(lambda n: n.name.startswith("Scan"), "number of output rows")
        add("rows_read", rows)
        add("useful", q["useful"])
        add("bytes_read", metric(lambda n: n.name.startswith("Scan"), "size of files read"))
        add("scan_s", metric(lambda n: n.name.startswith("Scan"), "scan time") / 1e3)
        py = lambda n: n.name in PYTHON_NODES  # noqa: E731
        add("py_boot_s", metric(py, "time to start Python workers") / 1e3)
        add("py_init_s", metric(py, "time to initialize Python workers") / 1e3)
        add("py_bytes_sent", metric(py, "data sent to Python workers"))
        add("py_bytes_recv", metric(py, "data returned from Python workers"))
        contrib = metric(py, "number of output rows")
        add("contrib_rows", contrib)
        partial = metric(lambda n: n.name == "HashAggregate" and "it" in n.keys()
                         and "partial_" in n.desc, "number of output rows")
        add("partial_rows", partial)
        add("partial_in", contrib if partial else 0.0)
        shuffle = lambda keys: metric(  # noqa: E731
            lambda n: n.name == "Exchange" and n.keys() == keys, "shuffle bytes written")
        add("build_shuffle", shuffle({"it", "iy", "ix"}))
        add("cube_shuffle", shuffle({"iy", "ix"}))
        add("stjoin_exchange", shuffle({"chunk_id"}))
        add("spread_bytes", metric(lambda n: n.round_robin, "shuffle bytes written"))
        chunks = metric(lambda n: n.name == "Range", "number of output rows")
        add("chunks", chunks)
        add("probe_pairs", rows * chunks)
        add("pairs_out", metric(lambda n: n.name == "BroadcastNestedLoopJoin",
                                "number of output rows"))
        for k, v in q["plan"].items():
            add(f"plan_{k}", v)

    nq = max(len(queries), 1)
    per = lambda k: tot.get(k, 0.0) / nq  # noqa: E731
    walls = sum(q["wall"] for q in queries)
    kernel_calls, kernel_s = prof.total("build.py", "kernel")
    metrics = {
        "session.driver_s": sum(w - c for w, c in covered_walls) / nq,
        "session.task_s": per("task_s"),
        "session.cpu_s": per("cpu_s"),
        "session.gc_s": per("gc_s"),
        "session.slot_busy_frac": tot.get("task_s", 0.0) / max(walls * cores, 1e-9),
        "session.stages": per("stages"),
        "session.tasks": per("tasks"),
        "session.py_boot_s": per("py_boot_s"),
        "session.py_init_s": per("py_init_s"),
        "session.py_bytes_sent": per("py_bytes_sent"),
        "session.py_bytes_recv": per("py_bytes_recv"),
        "sources.rows_read": per("rows_read"),
        "sources.bytes_read": per("bytes_read"),
        "sources.scan_s": per("scan_s"),
        "sources.useful_frac": _ratio(tot.get("useful"), tot.get("rows_read")),
        "codecs.decode_s": prof.total("codecs.py", "decode")[1] / nq,
        "jpegbase.decode_s": prof.total("jpegbase.py", "decode_jpeg")[1] / nq,
        "build.scan_kernel_s": prof.scan_kernel_self() / nq,
        "build.contrib_rows": per("contrib_rows"),
        "build.contrib_rows_per_image": _ratio(tot.get("contrib_rows"), tot.get("rows_read")),
        "build.partial_agg_ratio": _ratio(tot.get("partial_rows"), tot.get("partial_in")),
        "build.shuffle_bytes": per("build_shuffle"),
        "build.spill_bytes": per("build_spill"),
        "build.chunk_kernel_s": kernel_s / nq,
        "build.kernel_groups": kernel_calls / nq,
        "build.kernel_skew": statistics.mean(skews) if skews else 0.0,
        "stjoin.chunks": per("chunks"),
        "stjoin.probe_pairs": per("probe_pairs"),
        "stjoin.pairs_out": per("pairs_out"),
        "stjoin.selectivity": _ratio(tot.get("pairs_out"), tot.get("probe_pairs")),
        "stjoin.probe_s": per("stjoin.probe_s"),
        "stjoin.exchange_bytes": per("stjoin_exchange"),
        "partition.spread_exchanges": per("plan_spread_exchanges"),
        "partition.spread_bytes": per("spread_bytes"),
        "cube.reduce_time_s": per("cube.reduce_time_s"),
        "cube.shuffle_bytes": per("cube_shuffle"),
        "plan.exchanges": per("plan_exchanges"),
        "plan.python_nodes": per("plan_python_nodes"),
        "trace.attributed_frac": _ratio(tot.get("attributed_s"), tot.get("task_s")),
    }
    return metrics, stage_rows


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_ratio", "_per_image", "_skew", "selectivity")):
        return "ratio"
    return "count"


def _ratio(a, b) -> float:
    return float(a) / float(b) if a and b else 0.0


def _covered(intervals: list, t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    spans = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total
