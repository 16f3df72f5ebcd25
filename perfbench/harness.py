"""Shared parts of the benchmark: run directory, Spark session, spans,
event-log reduction, peak memory and the result stamp.

Nothing here starts a thread or a process at import time.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import platform
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # the checkout the benchmark runs in
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process was started, read from /proc, so set-up
    time includes interpreter start and imports."""
    stat = Path("/proc/self/stat").read_text()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])  # field 22: starttime
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# perf_counter() reading at the moment the process started
PROCESS_T0 = time.perf_counter() - process_age_s()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    """90th percentile (inclusive method); with one sample, that sample."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls into
    the program's layers. Disabled, `span` costs one branch. When a span
    carries a `job_label` and a SparkContext is attached, the Spark jobs it
    launches are tagged with that label, which the event-log reducer keys on."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, job_label: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        if job_label and self.sc is not None:
            self.sc.setLocalProperty("perfbench.span", job_label)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if job_label and self.sc is not None:
                self.sc.setLocalProperty("perfbench.span", None)
            stack.pop()
            self.spans.append({"run_id": self.run_id, "id": sid, "parent": parent,
                               "name": name, "start": start, "end": end})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def start_session(run_dir: Path, trace: bool):
    """The engine session (`session.get_spark`) at local[4], with every
    scratch path under `run_dir`, no console progress bars, and Spark's
    event log only when tracing."""
    from uav_streamprocessor_spark.session import get_spark

    tmp = run_dir / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=MASTER,
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in (its Python workers exit with it),
    and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vmhwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the Spark JVM and its live Python workers."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return sum(_vmhwm_kb(p) for p in _descendants(jvm_pid)) / 1024.0


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

EVENTLOG_FIELDS = ("scan_rows", "py_bytes_sent", "py_bytes_returned", "run_s",
                   "cpu_s", "shuffle_bytes", "gc_s")


def eventlog_unit(field: str) -> str:
    return "s" if field.endswith("_s") else ("bytes" if "bytes" in field else "count")


def _event_files(log_dir: Path) -> list[Path]:
    files = [p for p in log_dir.rglob("*") if p.is_file()
             and not p.name.startswith(".") and not p.name.startswith("appstatus")]

    def order(p: Path):  # rolling logs: events_<n>_<app>
        parts = p.name.split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    return sorted(files, key=order)


def reduce_eventlog(log_dir: Path, query_labels: dict[str, str] | None = None) -> dict:
    """Per job label: scan output rows, Python-worker bytes each way,
    executor run and CPU time, shuffle bytes written and GC time, summed
    over the label's tasks. A job's label is the `perfbench.span` property
    set by `Tracer.span`, or, for a streaming query, the name that
    `query_labels` gives its query id.

    Python-worker bytes count the Python UDF operators only: the Python
    data source scan (`BatchScan uav_video`) reports a byte counter that
    keeps growing across scans in the same session, so it is left out."""
    query_labels = query_labels or {}
    node_of_acc: dict[int, str] = {}
    label_of_stage: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}

    def walk(node):
        for m in node.get("metrics", []):
            node_of_acc[m["accumulatorId"]] = node["nodeName"]
        for ch in node.get("children", []):
            walk(ch)

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    walk(e["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    label = props.get("perfbench.span") or query_labels.get(
                        props.get("sql.streaming.queryId", ""))
                    if label:
                        for sid in e["Stage IDs"]:
                            label_of_stage[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    label = label_of_stage.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if label is None or not m:
                        continue
                    t = totals.setdefault(label, dict.fromkeys(EVENTLOG_FIELDS, 0.0))
                    t["run_s"] += m["Executor Run Time"] / 1e3
                    t["cpu_s"] += m["Executor CPU Time"] / 1e9
                    t["gc_s"] += m["JVM GC Time"] / 1e3
                    t["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    for a in e["Task Info"].get("Accumulables", []):
                        name, upd = a.get("Name"), a.get("Update")
                        if upd is None:
                            continue
                        node = node_of_acc.get(a["ID"], "")
                        if name == "data sent to Python workers" and not node.startswith("BatchScan"):
                            t["py_bytes_sent"] += int(upd)
                        elif name == "data returned from Python workers" and not node.startswith("BatchScan"):
                            t["py_bytes_returned"] += int(upd)
                        elif name == "number of output rows" and "Scan" in node:
                            t["scan_rows"] += int(upd)
    return totals


# --------------------------------------------------------------------------
# stamp
# --------------------------------------------------------------------------

def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True, timeout=30)
    return r.stdout.strip() or None


def source_digest() -> str:
    """sha256 over the package and benchmark sources, for checkouts that are
    not git repositories."""
    h = hashlib.sha256()
    for base in ("uav_streamprocessor_spark", "perfbench"):
        for p in sorted((ROOT / base).rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def stamp(spark, workload: str, seed: int, params: dict, seconds: int, trace: bool) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "params": params,
        "seconds": seconds,
        "trace": trace,
        "cpus": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "git_sha": _git_sha(),
        "source_sha256": source_digest(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version")),
    }
