"""Per-layer tracing from outside the package.

The tracer wraps the public functions of each engine layer where their
callers look them up (module globals, the ``STAGES`` list, ``GraphStore``
class attributes) and records one span per call: name, layer, start,
end, parent span and run id. At each span boundary it reads the Spark
job and stage id counters (``DAGScheduler.numTotalJobs`` /
``nextStageId``), so a call's job and stage counts are the id ranges it
spans. That holds for jobs submitted from any thread, and it does not
depend on how many finished jobs Spark's status store still retains.

Executor-side numbers (task run and CPU time, shuffle, spill, skew) come
from Spark's own event log, parsed once after the session stops and
attributed to the job id range of the timed iterations. No package file
is edited; ``uninstall`` restores every wrapped name.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import sys
import threading
import time

STAGE_NAMES = (
    "stage_vcluster", "stage_vcenter_version", "stage_vrp", "stage_vhost",
    "stage_ntp", "stage_dns", "stage_vswitch", "stage_vport", "stage_vnic",
    "stage_vinfo_vms", "stage_vdatastore", "stage_vdisk", "stage_vnetwork",
    "stage_vpartition", "stage_vsnapshot",
)

# (module, attribute, layer) of every wrapped module-level function.
FUNCTIONS = (
    ("vmware_graph_spark.sources.workbook", "read_workbook_dir", "workbook"),
    ("vmware_graph_spark.ingest.refresh", "refresh", "refresh"),
    ("vmware_graph_spark.ingest.refresh", "run_ingest", "refresh"),
    ("vmware_graph_spark.operators.merge", "merge_nodes", "merge"),
    ("vmware_graph_spark.operators.snapshot", "snapshot_diff", "snapshot"),
    ("vmware_graph_spark.operators.snapshot", "sweep_edges", "snapshot"),
    ("vmware_graph_spark.analytics.algos", "connected_components", "algos"),
    ("vmware_graph_spark.operators.pin", "release_pins", "pin"),
) + tuple(("vmware_graph_spark.ingest.stages", s, "stages") for s in STAGE_NAMES)

GRAPHSTORE_METHODS = (
    "read", "publish", "write", "counts", "edges", "edges_with_props", "_cut",
)

LAYERS = (
    "bench", "workbook", "stages", "refresh", "merge", "snapshot", "store",
    "algos", "queries", "pin",
)


def _headline() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every metric a traced run prints, in order."""
    m = [
        ("driver.py4j_calls", "count"), ("driver.py_cpu_s", "s"),
        ("jvm.cpu_s", "s"), ("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
        ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"), ("spark.task_skew", "ratio"),
        ("workbook.read_s", "s"), ("workbook.rows", "count"),
    ]
    for s in STAGE_NAMES:
        m += [(f"stages.{s}.build_s", "s"), (f"stages.{s}.jobs", "count")]
    m += [
        ("refresh.build_s", "s"), ("refresh.build_jobs", "count"),
        ("refresh.orphans_s", "s"), ("refresh.orphans", "count"),
        ("merge.calls", "count"), ("merge.build_s", "s"), ("snapshot.diff_calls", "count"),
        ("store.read_s", "s"), ("store.publish_s", "s"), ("store.publish_jobs", "count"),
        ("store.write_bytes", "bytes"), ("store.write_files", "count"),
        ("store.counts_s", "s"), ("store.edges_s", "s"), ("store.cuts", "count"),
        ("algos.cc_s", "s"), ("algos.cc_rounds", "count"), ("algos.cc_build_jobs", "count"),
        ("queries.import_s", "s"), ("queries.build_s", "s"), ("queries.build_jobs", "count"),
        ("queries.exec_s", "s"), ("queries.exec_jobs", "count"),
    ]
    m += [(f"queries.{q}.s", "s") for q in _headline()]
    m += [("pin.released", "count")]
    m += [(f"self.{layer}_s", "s") for layer in LAYERS]
    m += [("trace.wall_s", "s")]
    return m


class NoTrace:
    """Stand-in for ``Tracer`` in untraced runs: spans cost nothing."""

    run_id = -1

    def span(self, name: str, layer: str, **attrs):
        return contextlib.nullcontext({})


class Tracer:
    """Spans and counters for one traced benchmark process."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id = -1  # -1 = set-up, i >= 0 = timed iteration i
        self.py4j_calls = 0
        self.actions = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ds = None
        self._undo: list = []

    # -- counters ------------------------------------------------------------

    def attach(self, spark) -> None:
        """Start reading job/stage id counters from this session."""
        self._ds = spark.sparkContext._jsc.sc().dagScheduler()

    def ids(self) -> tuple[int, int]:
        if self._ds is None:
            return 0, 0
        self._local.own = True
        try:
            return int(self._ds.numTotalJobs()), int(self._ds.nextStageId())
        finally:
            self._local.own = False

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str, **attrs) -> dict:
        jobs, stages = self.ids()
        stack = self._stack()
        sp = {
            "name": name, "layer": layer, "run": self.run_id,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(), "cpu0": time.process_time(),
            "j0": jobs, "s0": stages, "py4j0": self.py4j_calls, "act0": self.actions,
            **attrs,
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp["id"])
        return sp

    def end(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        sp["cpu_s"] = time.process_time() - sp.pop("cpu0")
        sp["j1"], sp["s1"] = self.ids()
        sp["py4j"] = self.py4j_calls - sp.pop("py4j0")
        sp["actions"] = self.actions - sp.pop("act0")
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        sp = self.begin(name, layer, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def wrap(self, fn, name: str, layer: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(sp)
            if after is not None:
                after(sp, args, out)
            return out

        return traced

    # -- installation --------------------------------------------------------

    def _replace_everywhere(self, orig, new) -> None:
        """Rebind every package-module global, STAGES entry and
        STAGE_SHEETS key that refers to ``orig``."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("vmware_graph_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, new)
                    self._undo.append(lambda m=mod, k=key, v=orig: setattr(m, k, v))
        stages = sys.modules.get("vmware_graph_spark.ingest.stages")
        if stages is not None:
            for i, st in enumerate(stages.STAGES):
                if st is orig:
                    stages.STAGES[i] = new
                    stages.STAGE_SHEETS[new] = stages.STAGE_SHEETS[orig]
                    self._undo.append(lambda i=i, o=orig, n=new: (
                        stages.STAGES.__setitem__(i, o), stages.STAGE_SHEETS.pop(n, None)
                    ))

    def install(self) -> None:
        """Wrap every layer entry point and count py4j calls and actions."""
        for modname, attr, layer in FUNCTIONS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            after = {
                "release_pins": self._after_release,
                "read_workbook_dir": self._after_read_workbook,
            }.get(attr)
            self._replace_everywhere(orig, self.wrap(orig, f"{layer}.{attr}", layer, after))

        from vmware_graph_spark.store.graph import GraphStore

        for meth in GRAPHSTORE_METHODS:
            raw = GraphStore.__dict__[meth]
            after = {"_cut": self._after_cut, "publish": self._after_publish}.get(meth)
            if isinstance(raw, classmethod):
                new = classmethod(self.wrap(raw.__func__, f"store.{meth}", "store", after))
            else:
                new = self.wrap(raw, f"store.{meth}", "store", after)
            setattr(GraphStore, meth, new)
            self._undo.append(lambda m=meth, r=raw: setattr(GraphStore, m, r))

        from py4j.java_gateway import GatewayClient
        from pyspark.sql.classic.dataframe import DataFrame

        send = GatewayClient.send_command

        def counted_send(client, *args, **kwargs):
            if not getattr(self._local, "own", False):
                with self._lock:  # GraphStore.write calls from a thread pool
                    self.py4j_calls += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted_send
        self._undo.append(lambda: setattr(GatewayClient, "send_command", send))
        for action in ("count", "collect", "toPandas"):
            orig = getattr(DataFrame, action)

            def counted(df, *args, _orig=orig, **kwargs):
                self.actions += 1
                return _orig(df, *args, **kwargs)

            setattr(DataFrame, action, functools.wraps(orig)(counted))
            self._undo.append(lambda a=action, o=orig: setattr(DataFrame, a, o))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- per-call extras, computed after the span closes -------------------------

    def _after_release(self, sp, args, out) -> None:
        sp["released"] = int(out or 0)

    def _after_read_workbook(self, sp, args, out) -> None:
        sp["rows"] = parquet_rows(args[1])

    def _after_cut(self, sp, args, out) -> None:
        # GraphStore._cut(self, df, ...) returns df itself when it does not cut
        sp["cut"] = int(len(args) > 1 and out is not args[1])

    def _after_publish(self, sp, args, out) -> None:
        sp["write_bytes"], sp["write_files"] = disk_usage(args[1])

    # -- reporting -----------------------------------------------------------

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's hidden
    checksum and marker files are not counted."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                nfiles += 1
                nbytes += os.path.getsize(os.path.join(root, f))
    return nbytes, nfiles


def parquet_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, from their footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _self_times(spans: list[dict]) -> dict[str, float]:
    """Sum per layer of each span's duration minus the part of it that
    its child spans cover."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {layer: 0.0 for layer in LAYERS}
    for sp in spans:
        covered, cur_end = 0.0, sp["start"]
        for ch in sorted(children.get(sp["id"], []), key=lambda c: c["start"]):
            lo, hi = max(ch["start"], cur_end), min(ch["end"], sp["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + (sp["end"] - sp["start"] - covered)
    return out


def parse_event_log(log_dir: str) -> tuple[dict[int, list[int]], dict[int, list[dict]]]:
    """(job id -> stage ids, stage id -> task records) from an uncompressed
    Spark event log directory."""
    job_stages: dict[int, list[int]] = {}
    tasks: dict[int, list[dict]] = {}
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(("appstatus", ".")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        job_stages[ev["Job ID"]] = list(ev["Stage IDs"])
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                        rd = tm.get("Shuffle Read Metrics") or {}
                        wr = tm.get("Shuffle Write Metrics") or {}
                        tasks.setdefault(ev["Stage ID"], []).append({
                            "ms": info["Finish Time"] - info["Launch Time"],
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            "write": wr.get("Shuffle Bytes Written", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        })
    return job_stages, tasks


def spark_metrics(log_dir: str, spans: list[dict], n_runs: int) -> dict[str, float]:
    """Spark metrics of the timed iterations, per iteration. Jobs and
    stages are the id ranges the iterations span; task numbers come from
    the event log, for the stages those jobs ran. A stage belongs to the
    first job that lists it; later jobs that list it again skipped it."""
    iters = [sp for sp in spans if sp["name"] == "bench.iteration"]
    ranges = [(sp["j0"], sp["j1"]) for sp in iters]

    def timed(job: int) -> bool:
        return any(lo <= job < hi for lo, hi in ranges)

    job_stages, tasks = parse_event_log(log_dir)
    owner: dict[int, int] = {}
    for job in sorted(job_stages):
        for st in job_stages[job]:
            owner.setdefault(st, job)
    stages = [st for st, job in owner.items() if timed(job) and st in tasks]
    recs = [t for st in stages for t in tasks[st]]
    mb = 1024 * 1024
    sum_max = sum_med = 0.0
    for st in stages:
        ms = [t["ms"] for t in tasks[st]]
        if len(ms) > 1:
            sum_max += max(ms)
            sum_med += statistics.median(ms)
    n = max(1, n_runs)
    return {
        "spark.jobs": sum(hi - lo for lo, hi in ranges) / n,
        "spark.stages": sum(sp["s1"] - sp["s0"] for sp in iters) / n,
        "spark.tasks": len(recs) / n,
        "spark.executor_run_s": sum(t["run_ms"] for t in recs) / 1e3 / n,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in recs) / 1e9 / n,
        "spark.shuffle_write_mb": sum(t["write"] for t in recs) / mb / n,
        "spark.shuffle_read_mb": sum(t["read"] for t in recs) / mb / n,
        "spark.spill_mb": sum(t["spill"] for t in recs) / mb / n,
        "spark.task_skew": sum_max / sum_med if sum_med else 1.0,
    }


def layer_metrics(tracer: Tracer, n_runs: int) -> dict[str, float]:
    """Per-layer metrics from the spans of the timed iterations (run >= 0),
    per iteration; ``queries.import_s`` comes from set-up."""
    timed = [sp for sp in tracer.spans if sp["run"] >= 0 and "end" in sp]
    n = max(1, n_runs)

    def dur(sp):
        return sp["end"] - sp["start"]

    def total(name, key=None):
        sel = [sp for sp in timed if sp["name"] == name]
        if key is None:
            return sum(dur(sp) for sp in sel) / n
        if key == "calls":
            return len(sel) / n
        if key == "jobs":
            return sum(sp["j1"] - sp["j0"] for sp in sel) / n
        return sum(sp.get(key, 0) for sp in sel) / n

    m: dict[str, float] = {}
    iters = [sp for sp in timed if sp["name"] == "bench.iteration"]
    m["driver.py4j_calls"] = sum(sp["py4j"] for sp in iters) / n
    m["driver.py_cpu_s"] = sum(sp["cpu_s"] for sp in iters) / n
    m["workbook.read_s"] = total("workbook.read_workbook_dir")
    m["workbook.rows"] = total("workbook.read_workbook_dir", "rows")
    for s in STAGE_NAMES:
        m[f"stages.{s}.build_s"] = total(f"stages.{s}")
        m[f"stages.{s}.jobs"] = total(f"stages.{s}", "jobs")
    m["refresh.build_s"] = total("refresh.refresh")
    m["refresh.build_jobs"] = total("refresh.refresh", "jobs")
    m["refresh.orphans_s"] = total("refresh.orphans")
    m["refresh.orphans"] = total("refresh.orphans", "orphans")
    m["merge.calls"] = total("merge.merge_nodes", "calls")
    m["merge.build_s"] = total("merge.merge_nodes")
    m["snapshot.diff_calls"] = total("snapshot.snapshot_diff", "calls")
    m["store.read_s"] = total("store.read")
    m["store.publish_s"] = total("store.publish")
    m["store.publish_jobs"] = total("store.publish", "jobs")
    m["store.write_bytes"] = total("store.publish", "write_bytes")
    m["store.write_files"] = total("store.publish", "write_files")
    m["store.counts_s"] = total("store.counts")
    m["store.edges_s"] = total("store.edges") + total("store.edges_with_props")
    m["store.cuts"] = total("store._cut", "cut")
    m["algos.cc_s"] = total("algos.connected_components")
    m["algos.cc_rounds"] = total("algos.connected_components", "actions")
    m["algos.cc_build_jobs"] = total("algos.connected_components", "jobs")
    imports = [sp for sp in tracer.spans if sp["name"] == "queries.import"]
    m["queries.import_s"] = sum(dur(sp) for sp in imports)
    m["queries.build_s"] = total("queries.build")
    m["queries.build_jobs"] = total("queries.build", "jobs")
    m["queries.exec_s"] = total("queries.exec")
    m["queries.exec_jobs"] = total("queries.exec", "jobs")
    for q in _headline():
        m[f"queries.{q}.s"] = sum(
            dur(sp) for sp in timed
            if sp["name"] in ("queries.build", "queries.exec") and sp.get("query") == q
        ) / n
    m["pin.released"] = total("pin.release_pins", "released")
    for layer, s in _self_times(timed).items():
        m[f"self.{layer}_s"] = s / n
    return m
