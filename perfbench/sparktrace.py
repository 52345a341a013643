"""The counters Spark itself records for each traced operation: the
status tracker finds the jobs of the operation's job group, and the UI
REST API (``/jobs``, ``/stages``, ``/sql``) gives their stages, tasks,
shuffle bytes and SQL operator metrics.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_PY_RUN = "time to run Python workers"


def parse_metric(value: str) -> float:
    """SQL UI metric string -> number: ``"1,856"``, ``"23 ms"`` or
    ``"total (min, med, max ...)\\n1.3 s (329 ms, ...)"`` (the total)."""
    head = value.split("\n")[-1].split(" (")[0].replace(",", "").split()
    if not head:
        return 0.0
    scale = _SCALE.get(head[1], 1.0) if len(head) > 1 else 1.0
    return float(head[0]) * scale


def _epoch(ts: str) -> float:
    # "2026-10-16T17:44:37.934GMT"
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def interval_union(spans: list, lo: float = float("-inf"),
                   hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """What Spark recorded for the jobs of one job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_lo = 0          # lowest SQL execution id not yet final
        self._sql: dict = {}      # execution id -> final execution record

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    @contextmanager
    def group(self, name: str):
        """Tag the calling thread's Spark jobs with job group ``name``."""
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def _refresh_sql(self) -> list:
        """Store new final SQL executions; return those still running."""
        rows = self._get(f"/sql?details=true&planDescription=false"
                         f"&offset={self._sql_lo}&length=1000")
        for ex in rows:
            if ex["status"] in ("COMPLETED", "FAILED"):
                self._sql[ex["id"]] = ex
        running = [ex for ex in rows if ex["status"] not in ("COMPLETED", "FAILED")]
        if rows:
            self._sql_lo = min(ex["id"] for ex in running) if running else rows[-1]["id"] + 1
        return running

    def collect(self, group: str, timeout: float = 15.0) -> dict:
        """Counters for every job of ``group``, once Spark's listeners
        have recorded them (or ``timeout`` passes: ``complete`` is then
        False)."""
        job_ids = sorted(self._tracker.getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout
        while True:
            jobs = [self._get(f"/jobs/{j}") for j in job_ids]
            jobs_done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            stages = []
            for j in jobs:
                for sid in j["stageIds"]:
                    stages.extend(self._get(f"/stages/{sid}"))
            # stages a job skipped may stay PENDING; none may still run
            stages_done = not any(s["status"] == "ACTIVE" for s in stages)
            ours = set(job_ids)
            # an execution Spark never marks ended must not hold up others
            sql_running = any(ours & set(_job_ids(ex)) for ex in self._refresh_sql())
            execs = [ex for ex in self._sql.values() if ours & set(_job_ids(ex))]
            complete = jobs_done and stages_done and not sql_running
            if complete or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not complete:
            print(f"# trace: {group} not final after {timeout}s: jobs "
                  f"{[j['status'] for j in jobs]} stages {[s['status'] for s in stages]} "
                  f"sql_running={sql_running}", file=sys.stderr)
        return _summarize(jobs, stages, execs, complete)


def _job_ids(ex: dict) -> list:
    return ex["runningJobIds"] + ex["successJobIds"] + ex["failedJobIds"]


def _summarize(jobs: list, stages: list, execs: list, complete: bool) -> dict:
    done = [s for s in stages if s["status"] == "COMPLETE"]
    out = {
        "complete": complete,
        "jobs": len(jobs),
        "failed_jobs": sum(j["status"] == "FAILED" for j in jobs),
        "stages": len(done),
        "tasks": sum(s["numCompleteTasks"] for s in done),
        "job_intervals": [(_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                          for j in jobs if j.get("completionTime")],
        "executor_run_s": sum(s["executorRunTime"] for s in done) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in done) / 1e9,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in done),
        "output_bytes": sum(s["outputBytes"] for s in done),
        "pyworker_run_s": 0.0, "pyworker_init_s": 0.0,
        "pyworker_bytes_sent": 0.0, "pyworker_bytes_returned": 0.0,
        "scan_rows_read": 0.0, "scan_rows_matched": 0.0,
        "scan_parquet_bytes": 0.0, "other_scan_rows": 0.0,
    }
    for ex in execs:
        _sql_nodes(ex, out)
    return out


def _is_scan(name: str) -> bool:
    return name == "InMemoryTableScan" or name.startswith("Scan parquet")


def _sql_nodes(ex: dict, out: dict) -> None:
    """Python-worker and scan counters of one SQL execution. A scan is a
    postings scan when a Python-worker operator reads it (the scorers are
    the only Python operators on the query path); other scans (corpus
    fetch, tombstones) count as ``other_scan_rows``."""
    nodes = {n["nodeId"]: n for n in ex["nodes"]}
    children = defaultdict(list)
    for e in ex.get("edges", []):
        children[e["toId"]].append(e["fromId"])
    metrics = {i: {m["name"]: m["value"] for m in n["metrics"]}
               for i, n in nodes.items()}
    under_python: set = set()
    for i, n in nodes.items():
        m = metrics[i]
        if _PY_RUN not in m:
            continue
        out["pyworker_run_s"] += parse_metric(m[_PY_RUN])
        out["pyworker_init_s"] += sum(
            parse_metric(m[k]) for k in ("time to start Python workers",
                                         "time to initialize Python workers")
            if k in m)
        out["pyworker_bytes_sent"] += parse_metric(m.get("data sent to Python workers", "0"))
        out["pyworker_bytes_returned"] += parse_metric(
            m.get("data returned from Python workers", "0"))
        # walk down to the scans this operator reads; the first Filter met
        # on the way is the term predicate
        stack, matched = [(c, None) for c in children[i]], {}
        while stack:
            j, filt = stack.pop()
            under_python.add(j)
            name = nodes[j]["nodeName"]
            if filt is None and name == "Filter":
                filt = j
            if _is_scan(name):
                matched[j] = filt
            stack.extend((c, filt) for c in children[j])
        for scan, filt in matched.items():
            rows = parse_metric(metrics[scan].get("number of output rows", "0"))
            out["scan_rows_read"] += rows
            out["scan_rows_matched"] += (
                parse_metric(metrics[filt].get("number of output rows", "0"))
                if filt is not None else rows)
            out["scan_parquet_bytes"] += parse_metric(
                metrics[scan].get("size of files read", "0"))
    for i, n in nodes.items():
        if _is_scan(n["nodeName"]) and i not in under_python:
            out["other_scan_rows"] += parse_metric(
                metrics[i].get("number of output rows", "0"))
