"""Spans recorded by the benchmark and Spark's own metrics from its
local REST API (``/jobs``, ``/stages``, ``/sql``, ``/storage/rdd``).

Every Spark action the benchmark starts runs under a job group named
``<unit>:<item>:<phase>`` (for example ``w2:tpch_q1_pricing_summary:exec``),
with the group id also set as the job description, so jobs, stages and
SQL executions can be attributed to a unit of work and a layer after
the run. Spans are kept in memory and written once at the end.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory spans: name, start, end, parent and a shared trace id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "trace": trace_id, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def _ts(s: str | None) -> float:
    if not s:
        return 0.0
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


_DUR = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}
_TOTAL = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")


def sql_metric_total(value: str) -> float:
    """Total of one ``/sql`` node metric in seconds or bytes. Values read
    ``"0 ms"`` or ``"total (min, med, max (...))\\n4.4 s (2.1 s, ...)"``."""
    line = value.split("\n")[-1]
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    num, unit = float(m.group(1)), m.group(2)
    return num * _DUR.get(unit, _SIZE.get(unit, 1.0))


PYTHON_SQL_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}


class SparkRest:
    """Reader for one application's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    # the UI is local; never route it through a configured HTTP proxy
    _opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self._opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout_s: float = 10.0) -> list[dict]:
        """Jobs once the listener bus has caught up: none running and the
        count unchanged between two reads."""
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = self.get("/jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and prev == len(jobs)) or time.time() > deadline:
                return jobs
            prev = len(jobs) if done else None
            time.sleep(0.2)

    def storage(self) -> tuple[float, int]:
        """(MB held by cached RDDs in memory and on disk, number of them)."""
        rdds = self.get("/storage/rdd")
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB, len(rdds)

    def snapshot(self) -> dict:
        jobs = self.settled_jobs()
        stages = self.get("/stages")
        sql = self.get("/sql?details=true&offset=0&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}


def group_metrics(snap: dict, select) -> dict[str, float]:
    """Executor and Python-worker totals over the jobs whose group
    ``select(group)`` accepts."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") and select(j["jobGroup"])]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    out = defaultdict(float)
    out["jobs"] = len(jobs)
    out["job_s"] = sum(_ts(j.get("completionTime")) - _ts(j.get("submissionTime")) for j in jobs)
    for st in snap["stages"]:
        if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += st["numCompleteTasks"]
        out["run_s"] += st["executorRunTime"] / 1e3
        out["cpu_s"] += st["executorCpuTime"] / 1e9
        out["gc_s"] += st["jvmGcTime"] / 1e3
        out["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
        out["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
        out["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
        out["input_mb"] += st["inputBytes"] / MB
    for ex in snap["sql"]:
        desc = ex.get("description") or ""
        if not select(desc):
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = PYTHON_SQL_METRICS.get(m["name"])
                if key:
                    v = sql_metric_total(m["value"])
                    out["py_" + key] += v / MB if key.endswith("_mb") else v
    return dict(out)
