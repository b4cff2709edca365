"""Per-layer trace of one benchmark pass, read from outside the package.

The traced run labels every call into the program with a Spark job
group -- ``<prefix>:<query>:build`` around the catalog builder and
``<prefix>:<query>:action`` around the returned DataFrame's action --
and times each call.  After the pass it reads the local Spark UI REST
API (jobs, stages, task summaries, SQL executions) and splits the pass
into layers:

* ``catalog.*``  builder calls: wall time, the Spark jobs they launch
  eagerly (checkpoints, sizing actions) and the driver time left over;
* ``action.*``   the final action's wall time, jobs and driver time;
* ``engine.*``   every job of the pass: stages, tasks, executor time,
  parquet bytes scanned, shuffle, spill, core occupancy and task skew;
* ``udf.*``      bytes the Python-UDF operators ship to Python workers;
* ``cdc.*``      bytes the CDC queries write and what they leave on disk.

Which end-to-end metric each group should move, and where:

* ``session.*`` -> ``setup_s`` on both workloads;
* ``catalog.*``, ``engine.outside_job_frac``, ``engine.jobs`` ->
  ``pass_s`` on ``graph_text`` (eager builder jobs, per-job overhead);
* ``action.*``, ``engine.executor_*``, ``engine.shuffle_*``,
  ``engine.input_mb`` -> ``pass_s`` on ``scan_write``; ``graph_text``
  should not move, its data is small;
* ``engine.core_busy_frac``, ``engine.single_task_stages``,
  ``engine.task_skew_max``, ``udf.python_mb_sent`` -> ``pass_s`` on
  ``graph_text`` (kNN and UDF stages);
* ``cdc.*`` -> ``pass_s`` on ``scan_write``, whose q21 reads the same
  tier and writes nothing, so a write-side gain that costs reads shows.

Spark posts job, stage and SQL events to its listener bus
asynchronously, so a call can return before the UI store has seen its
jobs.  ``Tracer.metrics`` therefore first waits until the bus is empty
and the REST API shows every job of the pass finished and none of their
stages active; only then does it read job ids per call, through the
status tracker.  Self-checks: every job the REST API reports for the
pass carries a benchmark job group, and the job ids collected per call
are exactly the REST job ids.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import socket
import time
import urllib.parse
import urllib.request

# UI retention high enough that no job, stage, task or SQL execution of
# a run is evicted before it is read (the defaults evict at 1000).
RETAIN = "1000000"


def free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def ui_configs() -> dict[str, str]:
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": str(free_port()),
        "spark.ui.retainedJobs": RETAIN,
        "spark.ui.retainedStages": RETAIN,
        "spark.ui.retainedTasks": RETAIN,
        "spark.sql.ui.retainedExecutions": RETAIN,
    }


def _epoch(stamp: str) -> float:
    """REST timestamps look like ``2026-10-17T04:05:06.123GMT``."""
    return dt.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _union_s(intervals: "list[tuple[float, float]]") -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SCALE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_bytes(text: str) -> float:
    """First size in a SQL metric string (the total, when it has a breakdown)."""
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                size += os.path.getsize(p)
                files += 1
    return size, files


class Rest:
    """Minimal reader of the driver's own UI REST API on localhost."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)


class Tracer:
    """Spans around builder and action calls for one traced pass."""

    def __init__(self, spark, prefix: str, scratch_dir: str):
        self.sc = spark.sparkContext
        self.rest = Rest(self.sc)
        self.prefix = prefix
        self.scratch_dir = scratch_dir
        self.spans: list[dict] = []

    def start_pass(self) -> None:
        jobs = self.rest.get("/jobs")
        self.first_job = 1 + max((j["jobId"] for j in jobs), default=-1)
        self.scratch_before = set(os.listdir(self.scratch_dir))
        self.t0 = time.time()

    def end_pass(self) -> None:
        self.t1 = time.time()

    @contextlib.contextmanager
    def span(self, query: str, phase: str):
        group = f"{self.prefix}:{query}:{phase}"
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"query": query, "phase": phase, "group": group, "t0": t0, "t1": t1})

    def _settled_jobs(self, timeout_s: float = 120.0) -> list[dict]:
        """REST jobs of the pass, once the UI store holds all of them finished."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.rest.get("/jobs") if j["jobId"] >= self.first_job]
            stage_ids = {sid for j in jobs for sid in j["stageIds"]}
            busy = [j["jobId"] for j in jobs if j["status"] not in ("SUCCEEDED", "FAILED")]
            busy += [f"stage {st['stageId']}" for st in self.rest.get("/stages?status=active")
                     if st["stageId"] in stage_ids]
            if not busy:
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError(f"trace: still running {timeout_s:.0f}s after the pass: {busy[:10]}")
            time.sleep(0.2)

    def metrics(self, cores: int, cdc_queries: "set[str]") -> dict[str, float]:
        jobs = self._settled_jobs()
        for s in self.spans:
            s["jobs"] = set(self.sc.statusTracker().getJobIdsForGroup(s["group"]))
        rest_ids = {j["jobId"] for j in jobs}
        unlabeled = [j["jobId"] for j in jobs if not str(j.get("jobGroup", "")).startswith(self.prefix + ":")]
        if unlabeled:
            raise RuntimeError(f"trace: jobs without a benchmark job group: {unlabeled[:10]}")
        traced_ids = set().union(*(s["jobs"] for s in self.spans))
        if traced_ids != rest_ids:
            raise RuntimeError(
                f"trace: {len(traced_ids)} traced jobs != {len(rest_ids)} REST jobs "
                f"(only traced: {sorted(traced_ids - rest_ids)[:10]}, "
                f"only REST: {sorted(rest_ids - traced_ids)[:10]})")
        by_id = {j["jobId"]: j for j in jobs}
        interval = {i: (_epoch(j["submissionTime"]), _epoch(j["completionTime"])) for i, j in by_id.items()}

        def phase_totals(phase: str) -> tuple[float, int, float]:
            spans = [s for s in self.spans if s["phase"] == phase]
            ids = set().union(*(s["jobs"] for s in spans))
            wall = sum(s["t1"] - s["t0"] for s in spans)
            return wall, len(ids), _union_s([interval[i] for i in ids])

        # Per-call figures, for reading where a workload's pass goes.
        self.per_query: dict[str, dict[str, float]] = {}
        for s in self.spans:
            q = self.per_query.setdefault(s["query"], {"executor_run_s": 0.0})
            q[f"{s['phase']}_s"] = s["t1"] - s["t0"]
            q[f"{s['phase']}_jobs"] = len(s["jobs"])

        build_s, build_jobs, build_job_s = phase_totals("build")
        action_s, action_jobs, action_job_s = phase_totals("action")
        pass_s = self.t1 - self.t0
        job_union_s = _union_s(list(interval.values()))

        stage_owner: dict[int, str] = {}
        for s in self.spans:
            for i in s["jobs"]:
                for sid in by_id[i]["stageIds"]:
                    stage_owner.setdefault(sid, s["query"])
        stages = [st for st in self.rest.get("/stages")
                  if st["stageId"] in stage_owner and st["status"] in ("COMPLETE", "FAILED")]

        def total(key: str, only=None) -> float:
            return float(sum(st[key] for st in stages if only is None or stage_owner[st["stageId"]] in only))

        run_s = total("executorRunTime") / 1e3
        for st in stages:
            self.per_query[stage_owner[st["stageId"]]]["executor_run_s"] += st["executorRunTime"] / 1e3
        # Skew is max/median task run time, over the stages that hold at
        # least 0.5 s of executor time: in shorter stages a few
        # milliseconds of scheduling jitter dominate the ratio.
        skews = []
        for st in stages:
            if st["numTasks"] >= 2 and st["executorRunTime"] >= 500:
                q = self.rest.get(f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
                med, mx = q["executorRunTime"]
                skews.append(mx / max(med, 1.0))

        # Scan input is read from the scans' SQL metric: the stages'
        # inputBytes count cached and checkpointed blocks, but only a few
        # KB of a 45 MB local parquet file.
        sql_bytes = {"data sent to Python workers": 0.0, "size of files read": 0.0}
        for ex in self.rest.get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            if not rest_ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") in sql_bytes:
                        sql_bytes[m["name"]] += _size_bytes(m.get("value", ""))

        table_bytes = table_files = 0
        for entry in set(os.listdir(self.scratch_dir)) - self.scratch_before:
            size, files = _dir_usage(os.path.join(self.scratch_dir, entry))
            table_bytes += size
            table_files += files
        cdc_output_mb = total("outputBytes", cdc_queries) / 1e6
        table_mb = table_bytes / 1e6

        return {
            "catalog.build_s": build_s,
            "catalog.build_jobs": build_jobs,
            "catalog.build_job_s": build_job_s,
            "catalog.build_driver_s": build_s - build_job_s,
            "action.wall_s": action_s,
            "action.jobs": action_jobs,
            "action.driver_s": action_s - action_job_s,
            "engine.jobs": len(rest_ids),
            "engine.stages": len(stages),
            "engine.tasks": int(total("numCompleteTasks") + total("numFailedTasks")),
            "engine.outside_job_frac": 1.0 - job_union_s / pass_s,
            "engine.executor_run_s": run_s,
            "engine.executor_cpu_s": total("executorCpuTime") / 1e9,
            "engine.gc_s": total("jvmGcTime") / 1e3,
            "engine.input_mb": sql_bytes["size of files read"] / 1e6,
            "engine.shuffle_write_mb": total("shuffleWriteBytes") / 1e6,
            "engine.shuffle_read_mb": total("shuffleReadBytes") / 1e6,
            "engine.spill_mb": total("diskBytesSpilled") / 1e6,
            "engine.core_busy_frac": run_s / (job_union_s * cores) if job_union_s else 0.0,
            "engine.single_task_stages": sum(1 for st in stages if st["numTasks"] == 1),
            "engine.task_skew_max": max(skews, default=1.0),
            "udf.python_mb_sent": sql_bytes["data sent to Python workers"] / 1e6,
            "cdc.output_mb": cdc_output_mb,
            "cdc.table_mb": table_mb,
            "cdc.files": table_files,
            "cdc.write_amp": cdc_output_mb / table_mb if table_mb else 0.0,
            "trace.pass_s": pass_s,
        }
