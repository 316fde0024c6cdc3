"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in one driver process on ``local[nproc]`` as a closed
loop with one client, from the root of a checkout: generates the seed's
inputs and expected results (untimed), starts the engine's session five
times (``setup_s`` is their median), runs one untimed warm-up pass so JIT,
Python workers and codegen are ready, then repeats timed passes for
``--seconds``. Every operation's output is checked. The last line of
standard output is one JSON object; ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones and writes the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import (  # noqa: E402
    LLM_EAGER, PASSES, PREPARE, RELATIONAL, Pass, prepare_inputs, prepare_spark_inputs, tree_bytes,
)
import datagen  # noqa: E402

SETUP_SAMPLES = 5
# One shuffle partition per core: AQE only coalesces down from the upper
# bound, and the tests pin the same 4 on this 4-core box; the session
# default of 32 would run 8 waves of near-empty tasks per shuffle here.
SHUFFLE_PARTITIONS = "4"
# The smallest heap the workloads run in comfortably: the machine is shared,
# and a heap that fills early makes peak RSS repeatable.
DRIVER_MEMORY = "1g"
MALLOC_ARENAS = "2"
# A run must end within 180 s; passes stop starting after this much.
DEADLINE_S = 150.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict:
    """Run configuration set here, never inherited from the caller."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    local_dirs = os.path.join(work, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local_dirs,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        # Pinned so native-memory behaviour, and with it peak_rss_mb, does
        # not depend on the caller's environment (YARN pins it the same way).
        "MALLOC_ARENA_MAX": MALLOC_ARENAS,
        "TZ": "UTC",
    })
    return {
        "master": f"local[{nproc()}]",
        "shuffle_partitions": int(SHUFFLE_PARTITIONS),
        "driver_memory": DRIVER_MEMORY,
        "malloc_arena_max": int(MALLOC_ARENAS),
        "spark_local_dirs": os.path.relpath(local_dirs, ROOT),
    }


def _vm_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _reset_peak(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


class Run:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.inject_failure = args.inject_failure
        self.scale = datagen.TINY if args.scale == "tiny" else datagen.FULL
        tag = f"{self.workload}-s{self.seed}-t{int(self.trace)}"
        self.work = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
        self.results = os.path.join(HERE, "_results")
        self.inputs = os.path.join(self.work, "in")
        self.tag = tag
        self.state: dict = {}
        self.digests: dict[str, str] = {}
        self.input_files: list[str] = []
        self.tracer = None  # the active tracer, set during traced passes only
        self.tracer_obj = None
        self.spark = None
        self.registry = None

    def query_names(self) -> tuple[str, ...]:
        return {"relational_etl": RELATIONAL, "llm_eager": LLM_EAGER}.get(self.workload, ())

    # -- session ---------------------------------------------------------------
    def start_session(self) -> list[float]:
        from data_pipelines_cu_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        first = os.path.join(self.inputs, "nation.parquet")
        samples = []
        for i in range(SETUP_SAMPLES):
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{self.workload}", **conf)
            spark.read.parquet(first).count()
            samples.append(time.perf_counter() - t0)
            if i < SETUP_SAMPLES - 1:
                spark.stop()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.sc = spark.sparkContext
        return samples

    def stop_session(self) -> None:
        if self.spark is None:
            return
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def probe_ms(self, n: int = 3) -> float:
        """Median latency of a one-task JVM-only job (diagnostic only)."""
        self.sc.setJobGroup("pb|probe", "trivial-job probe")
        one = self.sc._jvm.java.util.Collections.singletonList(0)
        lat = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.sc._jsc.parallelize(one, 1).count()
            lat.append((time.perf_counter() - t0) * 1e3)
        self._clear_group()
        return statistics.median(lat)

    def _clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- traced operations -----------------------------------------------------
    def traced_query(self, rec: dict, build, out: str):
        tr, op = self.tracer, rec["name"]
        g_build, g_sink = f"pb|{op}|build", f"pb|{op}|sink"
        rec["groups"] = {g_build: "build", g_sink: "sink"}
        self.sc.setJobGroup(g_build, f"{op} build")
        with tr.span("queries.build"):
            t0 = time.time()
            df = build()
            t1 = time.time()
        rec["build_window"] = (t0 * 1e3, t1 * 1e3)
        self.sc.setJobGroup(g_sink, f"{op} sink")
        with tr.span("catalyst.plan"):
            rec["catalyst"] = tr.planning_ms(df)
        with tr.span("sink.write"):
            df.write.parquet(out)
        self._clear_group()

    def collect_jobs(self, rec: dict, groups: tuple[str, ...] = ()) -> None:
        self._clear_group()
        ids = self.tracer.group_job_ids(f"pb|{rec['name']}", *rec.get("groups", {}), *groups)
        jobs = self.tracer.jobs(ids)
        phases = rec.get("groups", {})
        for j in jobs:
            j["_phase"] = phases.get(j["_group"], "other")
        rec["jobs"] = jobs
        rec["sql"] = self.tracer.new_sql()

    # -- passes ------------------------------------------------------------------
    def run_pass(self, index: int, traced: bool) -> Pass:
        from tracing import Tracer

        if traced:
            if self.tracer_obj is None:
                self.tracer_obj = Tracer(self.spark, self.tag)
            self.tracer_obj.begin_pass()
            self.tracer_obj.install()
            self.tracer = self.tracer_obj
        p = Pass(self, index)
        if self.workload in PREPARE:
            PREPARE[self.workload](p)
        pids = (os.getpid(), self.jvm_pid())
        reset = all(_reset_peak(pid) for pid in pids)
        last_job = self._max_job_id() if traced else None
        t0 = time.perf_counter()
        try:
            PASSES[self.workload](p)
        finally:
            if traced:
                self.tracer.uninstall()
            self.tracer = None
        p.wall_s = time.perf_counter() - t0
        p.peak_rss_parts_mb = [_vm_kb(pid, "VmHWM") / 1024.0 for pid in pids]
        p.peak_rss_mb = sum(p.peak_rss_parts_mb)
        p.peak_reset = reset
        written = tree_bytes(p.dir) - getattr(p, "seeded_bytes", 0)
        p.write_amp = written / max(1, self._input_bytes())
        p.traced = traced
        if traced:
            ids = {j["jobId"] for rec in p.ops for j in rec.get("jobs", [])}
            ids |= {j["jobId"] for j in getattr(p, "stream_jobs", [])}
            top = max(ids) if ids else last_job
            p.unaccounted = (top - last_job) - len(ids)
            p.layers = self.layer_metrics(p)
        return p

    def _max_job_id(self) -> int:
        jobs = self.tracer_obj._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def _input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.input_files)

    # -- per-layer metrics -----------------------------------------------------
    def layer_metrics(self, p: Pass) -> dict[str, float]:
        from tracing import job_latency_p50_ms, launch_wait_ms, phase_sums, uncovered_ms

        c = self.tracer_obj.c
        queries = [r for r in p.ops if r.get("role") == "query" and r["ok"]]
        all_jobs = [j for r in p.ops for j in r.get("jobs", [])] + getattr(p, "stream_jobs", [])
        sql = [s for r in p.ops for s in r.get("sql", [])]
        build_jobs = [j for r in queries for j in r["jobs"] if j["_phase"] == "build"]
        sink_jobs = [j for r in queries for j in r["jobs"] if j["_phase"] == "sink"]
        m = {
            "session.start_s": self.setup_s,
            "catalog.load_calls": c["catalog.load_calls"],
            "catalog.load_ms": c["catalog.load_ms"],
            "catalog.hit_ratio": c["catalog.hits"] / c["catalog.load_calls"] if c["catalog.load_calls"] else 0.0,
            "queries.build_ms": sum(r["build_window"][1] - r["build_window"][0] for r in queries),
            "queries.build_jobs": len(build_jobs),
            "queries.build_driver_ms": sum(
                uncovered_ms(*r["build_window"], [j for j in r["jobs"] if j["_phase"] == "build"])
                for r in queries
            ),
            "queries.build_cut_jobs": sum(
                1 for j in build_jobs if j.get("name", "").lower().startswith(("localcheckpoint", "checkpoint"))
            ),
            "jobs.count": len(all_jobs),
            "jobs.latency_p50_ms": job_latency_p50_ms(all_jobs),
            "jobs.launch_wait_ms": launch_wait_ms(all_jobs),
            "jobs.unaccounted": p.unaccounted,
        }
        for name in ("analysis", "optimization", "planning"):
            m[f"catalyst.{name}_ms"] = sum(r["catalyst"][name] for r in queries)
        for prefix, jobs in (("sink", sink_jobs), ("build", build_jobs)):
            for k, v in phase_sums(jobs, sql).items():
                m[f"{prefix}.{k}"] = v
        pipe = [r for r in p.ops if r.get("role") == "pipeline"]
        m["pipeline.run_ms"] = sum(r.get("pipeline_ms", 0.0) for r in pipe)
        m["pipeline.jobs"] = sum(len(r.get("jobs", [])) for r in pipe)
        waves = [r for r in p.ops if r.get("role") == "wave"]
        m["incremental.wave_jobs"] = sum(len(r.get("jobs", [])) for r in waves)
        m["incremental.wave_ms"] = sum(sum(r.get("writes", [])) * 1e3 for r in waves)
        m["incremental.read_corpus_ms"] = sum(sum(r.get("reads", [])) * 1e3 for r in waves)
        for k in ("table.commit_ms", "table.bytes_written", "table.files_written",
                  "upsert.calls", "upsert.ms", "upsert.files_written"):
            m[k] = c[k]
        prog = getattr(p, "progress", [])
        dur = lambda key: float(sum(x["durationMs"].get(key, 0) for x in prog))  # noqa: E731
        m["stream.batches"] = len(prog)
        m["stream.trigger_ms"] = dur("triggerExecution")
        m["stream.add_batch_ms"] = dur("addBatch")
        m["stream.wal_commit_ms"] = dur("walCommit")
        m["stream.commit_offsets_ms"] = dur("commitOffsets")
        m["stream.query_planning_ms"] = dur("queryPlanning")
        m["stream.state_rows"] = float(
            sum(s.get("numRowsTotal", 0) for s in prog[-1].get("stateOperators", []))
        ) if prog else 0.0
        return m


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def load_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one operation that raises (self-test)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    run = Run(args)
    # Before the engine is imported: its session module reads the knobs at
    # import time.
    config = pin_environment(run.work)
    try:
        import data_pipelines_cu_spark.session  # noqa: F401
        import duckdb
        import pyspark
    except ImportError as exc:
        shutil.rmtree(run.work, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 3
    units = load_units()
    os.makedirs(run.results, exist_ok=True)
    config.update(seed=run.seed, workload=run.workload, scale=args.scale,
                  pyspark=pyspark.__version__, duckdb=duckdb.__version__)
    from data_pipelines_cu_spark.queries import all_queries

    run.registry = all_queries()
    passes: list[Pass] = []
    probes = {}
    try:
        prepare_inputs(run)
        setup = run.start_session()
        run.setup_s = _median(setup)
        config["java"] = run.sc._jvm.java.lang.System.getProperty("java.version")
        config["effective"] = {  # as the running session reports them
            k: run.sc.getConf().get(k) for k in ("spark.master", "spark.driver.memory")
        }
        config["effective"]["spark.sql.shuffle.partitions"] = run.spark.conf.get(
            "spark.sql.shuffle.partitions")
        prepare_spark_inputs(run, run.spark)
        warm = run.run_pass(0, traced=False)
        probes["before_ms"] = run.probe_ms()
        t0 = time.perf_counter()
        i = 1
        while True:
            traced = run.trace and i % 2 == 0
            passes.append(run.run_pass(i, traced))
            i += 1
            elapsed = time.perf_counter() - t0
            have_both = not run.trace or any(p.traced for p in passes)
            late = time.perf_counter() - t_start > DEADLINE_S
            if have_both and (elapsed >= run.seconds or late):
                break
        probes["after_ms"] = run.probe_ms()
    finally:
        try:
            run.stop_session()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)

    timed = [p for p in passes if not p.traced]
    ops = [r for p in timed for r in p.ops]
    failed = [r for r in ops if not r["ok"]]
    warm_failed = [r for r in warm.ops if not r["ok"]]
    writes = [x for r in ops for x in r.get("writes", [])]
    reads = [x for r in ops for x in r.get("reads", [])]
    e2e = {
        "setup_s": run.setup_s,
        "run_s": _median([p.wall_s for p in timed]),
        "op_p50_s": _median([r["wall_s"] for r in ops]),
        "peak_rss_mb": _median([p.peak_rss_mb for p in timed]),
        "write_p50_s": _median(writes),
        "read_p50_s": _median(reads),
        "write_amp": _median([p.write_amp for p in timed]),
    }
    traced = [p for p in passes if p.traced]
    correct = not failed and not warm_failed
    if run.trace:
        layer = {k: _median([p.layers[k] for p in traced]) for k in traced[0].layers}
        layer["trace.overhead_s"] = _median([p.wall_s for p in traced]) - e2e["run_s"]
        layer["trace.spans"] = len(run.tracer_obj.spans)
        correct = correct and all(p.unaccounted == 0 for p in traced)
        failed += [r for p in traced for r in p.ops if not r["ok"]]
        ops += [r for p in traced for r in p.ops]
        run.tracer_obj.write_spans(os.path.join(run.results, f"{run.tag}.spans.jsonl"))
        metrics = layer
    else:
        metrics = e2e
    out_metrics = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units if k in metrics}
    error_rate = len(failed) / max(1, len(ops))
    record = {
        "config": config, "setup_samples_s": setup, "probe_trivial_job_ms": probes,
        "passes": [{"wall_s": p.wall_s, "traced": p.traced, "peak_rss_mb": p.peak_rss_mb,
                    "peak_reset": p.peak_reset, "peak_rss_parts_mb": p.peak_rss_parts_mb, "write_amp": p.write_amp,
                    "ops": [{k: r.get(k) for k in ("name", "role", "wall_s", "ok", "error")} for r in p.ops]}
                   for p in [warm] + passes],
        "error_rate": error_rate, "failed_ops": [(r["name"], r.get("error")) for r in failed + warm_failed],
        "digests": run.digests, "end_to_end": e2e, "metrics": metrics,
    }
    with open(os.path.join(run.results, f"{run.tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("perfbench " + json.dumps({
        "config": config, "passes": len(passes), "error_rate": error_rate,
        "failed_ops": record["failed_ops"][:10], "probe_trivial_job_ms": probes,
        "setup_samples_s": setup, "output_digest": output_digest(run.digests),
        "wall_s": time.perf_counter() - t_start,
    }))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": out_metrics}))
    return 0


def output_digest(digests: dict[str, str]) -> str:
    return hashlib.sha256(json.dumps(digests, sort_keys=True).encode()).hexdigest()[:16]


if __name__ == "__main__":
    sys.exit(main())
