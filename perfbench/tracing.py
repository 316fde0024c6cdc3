"""Per-layer tracing for the benchmark's traced run.

Everything here reads public surfaces only: the library's public functions
are wrapped where their callers look them up, and Spark is read through its
status tracker, the UI's REST ``/api/v1`` endpoints, each DataFrame's
``QueryPlanningTracker`` and ``StreamingQuery.recentProgress``. No library
file changes. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

# Per-stage REST fields summed into the ``sink.*`` / ``build.*`` metrics.
STAGE_SUMS = {
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}
PHASE_KEYS = (
    "ms", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "scans", "exchanges",
)


def _epoch_ms(stamp: str | None) -> float | None:
    """REST timestamps look like ``2026-10-17T03:17:03.123GMT``."""
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1e3


def _tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two tree snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)


class Tracer:
    """Spans, layer counters and Spark status reads for one traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self._sql_seen = 0
        # Jobs already attributed, or fired outside traced passes.
        self._counted: set[int] = set(self._null_group_ids())
        self._returned: dict[int, object] = {}
        self._patches: list[tuple[object, str, object]] = []
        self.reset_counters()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = getattr(self._local, "current", None)
        rec = {"name": name, "run_id": self.run_id, "parent": parent,
               "start": time.time(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._local.current = rec["id"]
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._local.current = parent

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def begin_pass(self) -> None:
        """Forget jobs and SQL executions of earlier (untraced) passes."""
        self.reset_counters()
        self._counted |= set(self._null_group_ids())
        self.new_sql()

    # -- layer wrappers --------------------------------------------------------
    def reset_counters(self) -> None:
        self.c = {
            "catalog.load_calls": 0, "catalog.load_ms": 0.0, "catalog.hits": 0,
            "table.commit_ms": 0.0, "table.bytes_written": 0, "table.files_written": 0,
            "upsert.calls": 0, "upsert.ms": 0.0, "upsert.files_written": 0,
        }

    def _add(self, counts: dict) -> None:
        with self._lock:  # upsert_partitions runs on the stream's thread
            for k, v in counts.items():
                self.c[k] += v

    def _patch(self, module, attr: str, wrapper) -> None:
        orig = getattr(module, attr)
        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper(orig))

    def install(self) -> None:
        from data_pipelines_cu_spark import queries
        from data_pipelines_cu_spark.operators import upsert
        from data_pipelines_cu_spark.pipelines import curation, incremental

        tracer = self

        def load_table(orig):
            def traced(spark, sf_dir, name):
                with tracer.span("catalog.load_table", table=name):
                    t0 = time.perf_counter()
                    df = orig(spark, sf_dir, name)
                    ms = (time.perf_counter() - t0) * 1e3
                hit = id(df) in tracer._returned
                tracer._returned[id(df)] = df
                tracer._add({"catalog.load_calls": 1, "catalog.load_ms": ms, "catalog.hits": int(hit)})
                return df
            return traced

        def commit_batch_multi(orig):
            def traced(dfs, root, batch_id, fs=None):
                before = _tree_files(root)
                with tracer.span("table.commit_batch_multi", batch_id=batch_id):
                    t0 = time.perf_counter()
                    out = orig(dfs, root, batch_id, fs=fs)
                    ms = (time.perf_counter() - t0) * 1e3
                files, nbytes = _written(before, _tree_files(root))
                tracer._add({"table.commit_ms": ms, "table.bytes_written": nbytes,
                             "table.files_written": files})
                return out
            return traced

        def upsert_partitions(orig):
            def traced(df, path, partition_cols, fmt="parquet"):
                before = _tree_files(path)
                with tracer.span("upsert.upsert_partitions", path=os.path.basename(path)):
                    t0 = time.perf_counter()
                    orig(df, path, partition_cols, fmt)
                    ms = (time.perf_counter() - t0) * 1e3
                files, _ = _written(before, _tree_files(path))
                tracer._add({"upsert.calls": 1, "upsert.ms": ms, "upsert.files_written": files})
            return traced

        self._patch(queries, "load_table", load_table)
        self._patch(curation, "load_table", load_table)
        self._patch(incremental, "commit_batch_multi", commit_batch_multi)
        self._patch(upsert, "upsert_partitions", upsert_partitions)

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    # -- Spark status reads --------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _null_group_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def group_job_ids(self, *groups: str) -> dict[int, str]:
        """Job ids fired under ``groups``, plus jobs with no group that
        appeared since the last call (pipeline worker threads and streaming
        ``foreachBatch`` callbacks run without the caller's group)."""
        out = {}
        for g in groups:
            for j in self.sc.statusTracker().getJobIdsForGroup(g):
                out[j] = g
        for j in self._null_group_ids():
            out.setdefault(j, "")
        # Group names repeat across passes; count each job once.
        fresh = {j: g for j, g in out.items() if j not in self._counted}
        self._counted |= set(fresh)
        return fresh

    def jobs(self, ids: dict[int, str]) -> list[dict]:
        """REST job records with their executed stages attached."""
        out = []
        for jid in sorted(ids):
            job = self._get(f"/jobs/{jid}")
            stages = []
            for sid in job.get("stageIds", []):
                for att in self._get(f"/stages/{sid}?details=false"):
                    if att.get("status") == "COMPLETE":
                        stages.append(att)
            job["_stages"] = stages
            job["_group"] = ids[jid]
            out.append(job)
        return out

    def new_sql(self) -> list[dict]:
        """SQL executions recorded since the last call."""
        rows = self._get(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(rows)
        return rows

    @staticmethod
    def planning_ms(df) -> dict[str, float]:
        """Analysis/optimization/planning ms from the DataFrame's own
        QueryPlanningTracker; forcing ``executedPlan`` plans it once more
        than an untraced sink would (part of the tracing overhead)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


def phase_sums(jobs: list[dict], sql: list[dict]) -> dict[str, float]:
    """The ``sink.*`` / ``build.*`` sums over one phase's jobs."""
    out = dict.fromkeys(PHASE_KEYS, 0.0)
    for job in jobs:
        sub, done = _epoch_ms(job.get("submissionTime")), _epoch_ms(job.get("completionTime"))
        if sub is not None and done is not None:
            out["ms"] += done - sub
        for st in job["_stages"]:
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0)
            out["executor_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
            out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            for key, field in STAGE_SUMS.items():
                out[key] += st.get(field, 0)
    ids = {j["jobId"] for j in jobs}
    for ex in sql:
        if ids & set(ex.get("jobIds", []) + ex.get("successJobIds", [])):
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                out["scans"] += name.startswith("Scan")
                out["exchanges"] += "Exchange" in name and not name.startswith("Reused")
    return out


def launch_wait_ms(jobs: list[dict]) -> float:
    """First task launch minus stage submission, summed over stages."""
    total = 0.0
    for job in jobs:
        for st in job["_stages"]:
            a, b = _epoch_ms(st.get("submissionTime")), _epoch_ms(st.get("firstTaskLaunchedTime"))
            if a is not None and b is not None:
                total += b - a
    return total


def uncovered_ms(start: float, end: float, jobs: list[dict]) -> float:
    """Part of [start, end] (epoch ms) that no job interval covers."""
    spans = sorted(
        (max(start, _epoch_ms(j["submissionTime"])), min(end, _epoch_ms(j["completionTime"])))
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (end - start) - covered)


def job_latency_p50_ms(jobs: list[dict]) -> float:
    lat = [
        _epoch_ms(j["completionTime"]) - _epoch_ms(j["submissionTime"])
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    ]
    return statistics.median(lat) if lat else 0.0
