"""Outside-in measurement helpers: process-tree RSS from /proc, Spark's
status REST API, and a streaming query's progress reports. None of them
reaches into the program; each reads what Spark or the kernel already
publishes."""

from __future__ import annotations

import json
import os
import threading
import urllib.request
from collections import defaultdict
from datetime import datetime

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 is the parent pid; the command name (field 2) may
        # itself hold spaces or parentheses, so split after its last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of every descendant of ``root`` (not ``root``
    itself): the driver JVM, the pyspark daemon and its Python workers."""
    kids = _children()
    total, stack = 0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples ``tree_rss_bytes(os.getpid())`` every ``interval`` seconds
    on one daemon thread and keeps the peak; use as a context manager."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:  # noqa: ANN002
        self._stop.set()
        self._thread.join(timeout=5)


class SparkRest:
    """Reader for the status REST API of a live SparkContext (UI on a
    random port, ``spark.ui.retainedStages``/``retainedJobs`` raised so
    no completed stage is evicted and deltas never go negative)."""

    def __init__(self, sc) -> None:  # noqa: ANN001
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; no status REST API")
        self._sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):  # noqa: ANN201
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        REST view includes the job that just returned."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> dict:
        self.settle()
        return {
            "jobs": {j["jobId"] for j in self.get("/jobs")},
            "stages": {(s["stageId"], s["attemptId"]) for s in self.get("/stages")},
            "sql": {e["id"] for e in self.get("/sql?details=false")},
            "exec": self.driver_totals(),
        }

    def driver_totals(self) -> dict:
        for ex in self.get("/allexecutors"):
            if ex["id"] == "driver":
                return ex
        raise RuntimeError("no driver executor in the status API")

    def since(self, mark: dict) -> dict:
        """Jobs, stages, SQL executions and executor-total deltas that
        appeared after ``mark``."""
        self.settle()
        ex = self.driver_totals()
        return {
            "jobs": [j for j in self.get("/jobs") if j["jobId"] not in mark["jobs"]],
            "stages": [
                s for s in self.get("/stages")
                if (s["stageId"], s["attemptId"]) not in mark["stages"]
            ],
            "sql": [
                e for e in self.get("/sql?details=true&planDescription=false")
                if e["id"] not in mark["sql"]
            ],
            "task_s": (ex["totalDuration"] - mark["exec"]["totalDuration"]) / 1e3,
            "gc_s": (ex["totalGCTime"] - mark["exec"]["totalGCTime"]) / 1e3,
            "cores": ex["totalCores"],
        }

    def task_records(self, stage: dict) -> list[int]:
        """Shuffle records read by each task of ``stage``."""
        tasks = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000"
        )
        return [
            t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"]
            for t in tasks if t.get("taskMetrics")
        ]


def sql_node_rows(executions: list[dict], name_part: str) -> int:
    """Summed "number of output rows" of every plan node whose name
    contains ``name_part``, over ``executions`` (the SQL REST payload)."""
    total = 0
    for ex in executions:
        for node in ex.get("nodes", []):
            if name_part not in node["nodeName"]:
                continue
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    total += int(str(m["value"]).replace(",", ""))
    return total


def job_wall_s(jobs: list[dict]) -> float:
    """Summed submission-to-completion wall of ``jobs``."""

    def ts(s: str) -> float:
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()

    return sum(
        ts(j["completionTime"]) - ts(j["submissionTime"])
        for j in jobs if j.get("completionTime")
    )


def stream_progress(query) -> dict:  # noqa: ANN001
    """Per-batch durations from a finished query's ``recentProgress``,
    skipping the empty trailing reports that carry no input."""
    batches = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    return {
        "batches": len(batches),
        "query_planning_ms": [p["durationMs"].get("queryPlanning", 0) for p in batches],
        "add_batch_ms": [p["durationMs"].get("addBatch", 0) for p in batches],
    }
