"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

An operation is a query build plus its parquet sink, a read of stored
output, an ingest wave, or a streaming micro-batch. ``Pass.op`` times each
one in the closed loop (the next starts when the previous completes) and
turns an exception into a failed operation instead of aborting the run.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import numpy as np
import pandas as pd

from datagen import TABLES, expected_waves, tick_days, write_tables, write_waves

# Lazy relational plans: catalog, Catalyst and the final sink's scans and
# shuffles; no Spark job fires while the DataFrame is built.
RELATIONAL = (
    "events_user_daily_counts", "cohort_retention", "daily_price_rollup",
    "orders_by_region", "dedup_keep_last", "lineitem_revenue_kpis",
)
# A query whose build fires eager connected-components rounds, then a
# curation DAG prefix run by the plans.pipeline runner.
LLM_EAGER = ("dedup_cluster_assignment",)
WAVES = 2
TICK_DAYS = 1
# Each read point reads twice: more read samples per pass at ~0.2 s each.
READ_REPEATS = 2


def _norm(v) -> str:
    """Type-faithful value form: int 302 and float 302.0 stay distinct and
    floats compare at full precision, as in the repository's oracle tests."""
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, np.ndarray):
        return str(v.tolist())
    return str(v)


def rows_key(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Order-insensitive canonical form: columns by lower-cased name, rows
    sorted. pandas NA-likes normalize through ``_norm``."""
    cols = sorted(df.columns, key=str.lower)
    rows = sorted(
        tuple(_norm(None if v is pd.NaT else v) for v in r)
        for r in df[cols].itertuples(index=False, name=None)
    )
    return tuple(c.lower() for c in cols), rows


def digest(key) -> str:
    return hashlib.sha256(repr(key).encode()).hexdigest()[:16]


class Pass:
    """One pass of a workload: its operations, timed in sequence."""

    def __init__(self, run, index: int):
        self.run = run
        self.index = index
        self.dir = os.path.join(run.work, f"pass{index}")
        os.makedirs(self.dir, exist_ok=True)
        self.ops: list[dict] = []

    def op(self, name: str, role: str, fn):
        """Time ``fn(rec)`` as one operation; returns its value, or None
        when it raised."""
        rec = {"name": name, "role": role, "ok": True}
        tr = self.run.tracer
        t0 = time.perf_counter()
        try:
            if tr is None:
                out = fn(rec)
            else:
                self.run.sc.setJobGroup(f"pb|{name}", name)
                with tr.span(f"op.{name}", role=role):
                    out = fn(rec)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            out = None
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        if tr is not None:
            self.run.collect_jobs(rec)
        self.ops.append(rec)
        return out

    def fail(self, name: str, why: str) -> None:
        """Mark an already-timed operation failed by a later check."""
        for rec in self.ops:
            if rec["name"] == name and rec["ok"]:
                rec["ok"] = False
                rec["error"] = why[:300]


# ---------------------------------------------------------------------------
# Inputs and oracles (untimed set-up)
# ---------------------------------------------------------------------------


def prepare_inputs(run) -> None:
    """Generate the seed's inputs and expected results."""
    import duckdb

    gen = write_tables(run.inputs, run.seed, run.scale)
    if run.workload == "incremental_ingest":
        run.state["waves"] = write_waves(gen["docs"], os.path.join(run.inputs, "waves"), WAVES)
        run.state["expected_waves"] = expected_waves(gen["plants"], WAVES)
        # Timed passes ingest every wave after the first (see ingest_pass).
        run.input_files = run.state["waves"][1:] + [os.path.join(run.inputs, "bench_docs.parquet")]
        return
    run.input_files = [os.path.join(run.inputs, f"{t}.parquet") for t in TABLES]
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.inputs}/{t}.parquet'")
        expected = {}
        for name in run.query_names():
            sql = run.registry[name].oracle
            if sql is not None:
                expected[name] = rows_key(con.sql(sql).df())
        if run.workload == "llm_eager":
            expected["curation_prefix"] = rows_key(con.sql(curation_prefix_sql()).df())
        run.state["expected"] = expected
    finally:
        con.close()


def prepare_spark_inputs(run, spark) -> None:
    """Inputs that need the engine itself: the seeded tick days, landed as
    one JSON file per day. The rows are kept for the stream's oracle."""
    if run.workload != "incremental_ingest":
        return
    from data_pipelines_cu_spark.sources.generators import generate_minute_ticks

    land = os.path.join(run.inputs, "ticks")
    os.makedirs(land, exist_ok=True)
    frames = []
    for k, day in enumerate(tick_days(run.seed, TICK_DAYS)):
        df = generate_minute_ticks(spark, day, seed=run.seed * 31 + k).select("fetch_time", "price_float")
        tmp = os.path.join(run.inputs, f"_tick_tmp{k}")
        df.coalesce(1).write.json(tmp)
        part = next(f for f in sorted(os.listdir(tmp)) if f.startswith("part-") and f.endswith(".json"))
        os.replace(os.path.join(tmp, part), os.path.join(land, f"ticks-{day}.json"))
        frames.append(df.toPandas())
    run.state["ticks_dir"] = land
    run.state["ticks"] = pd.concat(frames, ignore_index=True)
    run.input_files += [os.path.join(land, f) for f in sorted(os.listdir(land))]


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------


def _check_rows(p: Pass, op_name: str, got: pd.DataFrame, want) -> None:
    if got is None:
        return
    if len(got) == 0:
        p.fail(op_name, "empty output")
        return
    key = rows_key(got)
    p.run.digests[op_name] = digest(key)
    if want is None:
        return
    if key[0] != want[0]:
        p.fail(op_name, f"columns {key[0]} != oracle {want[0]}")
    elif len(key[1]) != len(want[1]):
        p.fail(op_name, f"{len(key[1])} rows != oracle {len(want[1])}")
    elif key[1] != want[1]:
        p.fail(op_name, "values differ from oracle")


def _part(rec: dict, key: str, fn):
    """Time one part of an operation as a sample in ``rec[key]`` (a list of
    seconds): ``"writes"`` or ``"reads"``."""
    t0 = time.perf_counter()
    out = fn()
    rec.setdefault(key, []).append(time.perf_counter() - t0)
    return out


def _reads(rec: dict, fn):
    """The operation's read part: ``READ_REPEATS`` identical reads, each a
    sample; the last result is returned for checking."""
    for _ in range(READ_REPEATS):
        out = _part(rec, "reads", fn)
    return out


def _query_op(p: Pass, name: str, fn) -> None:
    """Build + parquet sink (the write part), then read the sink back (the
    read part) as one operation; the read-back rows are what the oracle
    check sees, so checking re-executes nothing."""
    run, spark = p.run, p.run.spark
    out = os.path.join(p.dir, name)

    def build_and_sink(rec):
        if run.tracer is None:
            fn(spark, run.inputs).write.parquet(out)
        else:
            run.traced_query(rec, lambda: fn(spark, run.inputs), out)

    def query(rec):
        _part(rec, "writes", lambda: build_and_sink(rec))
        return _reads(rec, lambda: spark.read.parquet(out).toPandas())

    got = p.op(name, "query", query)
    _check_rows(p, name, got, run.state["expected"].get(name))


def curation_prefix_sql() -> str:
    """DuckDB twin of the curation DAG's first stages: Gopher gate, then
    one survivor (the lowest doc_id) per normalized-text digest."""
    from data_pipelines_cu_spark.operators import text as tx

    gate = tx.gopher_gate_oracle_sql(table="documents")
    return f"""
    WITH gate AS ({gate}),
    docs1 AS (SELECT d.* FROM documents d JOIN gate g ON d.doc_id = g.doc_id AND g.passes = 1)
    SELECT MIN(doc_id) AS doc_id FROM docs1
    GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    """


def _pipeline_op(p: Pass) -> None:
    """The curation DAG's ingest -> quality gate -> exact dedup stages and
    a fan-in report, run by the ``plans.pipeline`` runner. (The full
    ``run_curation`` DAG takes ~27 s warm on 4 cores, more than one run of
    this benchmark may spend.)"""
    from pyspark.sql import functions as F

    from data_pipelines_cu_spark.catalog import load_table
    from data_pipelines_cu_spark.operators import dedup as dd
    from data_pipelines_cu_spark.operators import text as tx
    from data_pipelines_cu_spark.plans.pipeline import Pipeline, Stage

    run, spark = p.run, p.run.spark
    out = os.path.join(p.dir, "curation_prefix")

    def gate(ctx):
        docs = ctx["ingest"]
        keep = tx.gopher_quality_gate(docs).filter(F.col("passes") == 1).select("doc_id")
        return docs.join(keep, "doc_id", "left_semi")

    def exact(ctx):
        docs = ctx["quality_gate"]
        firsts = dd.exact_dedup_groups(docs).select(F.col("canonical_id").alias("doc_id"))
        return docs.join(firsts, "doc_id", "left_semi")

    def report(ctx):
        return {s: ctx[s].count() for s in ("ingest", "quality_gate", "exact_dedup")}

    def run_dag(rec):
        pipe = Pipeline("curation_prefix", max_parallel=2)
        pipe.add(Stage(id="ingest", fn=lambda ctx: load_table(spark, run.inputs, "documents")))
        pipe.add(Stage(id="quality_gate", fn=gate, upstream=["ingest"]))
        pipe.add(Stage(id="exact_dedup", fn=exact, upstream=["quality_gate"]))
        pipe.add(Stage(id="report", fn=report, upstream=["exact_dedup"]))
        t0 = time.perf_counter()
        ctx = pipe.run()
        rec["pipeline_ms"] = (time.perf_counter() - t0) * 1e3
        ctx["exact_dedup"].select("doc_id").write.parquet(out)
        return ctx["report"]

    def op(rec):
        report = _part(rec, "writes", lambda: run_dag(rec))
        return report, _reads(rec, lambda: spark.read.parquet(out).toPandas())

    res = p.op("curation_prefix", "pipeline", op)
    if res is None:
        return
    report, got = res
    want = run.state["expected"]["curation_prefix"]
    _check_rows(p, "curation_prefix", got, want)
    if report.get("exact_dedup") != len(want[1]):
        p.fail("curation_prefix", f"report exact_dedup={report.get('exact_dedup')} != oracle {len(want[1])}")


def _injected_failure(rec):
    raise RuntimeError("injected failure")


def query_pass(p: Pass) -> None:
    for name in p.run.query_names():
        _query_op(p, name, p.run.registry[name].fn)
    if p.run.workload == "llm_eager":
        _pipeline_op(p)
    if p.run.inject_failure:
        p.op("injected", "query", _injected_failure)


def prepare_ingest(p: Pass) -> None:
    """Timed passes start from the state the warm-up pass committed with
    its first wave, so each one ingests against existing state."""
    if p.index > 0:
        shutil.copytree(p.run.state["state0"], os.path.join(p.dir, "state"))
        p.seeded_bytes = tree_bytes(p.dir)


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def ingest_pass(p: Pass) -> None:
    """Ingest waves, each followed by a corpus read, then the tick days
    through the streaming hourly -> daily cascade, then one read of both
    cascade outputs. The warm-up pass runs every wave from empty state and
    keeps a copy of the state after wave 0; timed passes run the later
    waves against that copy."""
    from data_pipelines_cu_spark.pipelines.incremental import ingest_wave, read_corpus
    from data_pipelines_cu_spark.streaming.jobs import read_tick_stream, run_cascade

    run, spark = p.run, p.run.spark
    state = os.path.join(p.dir, "state")
    bench = spark.read.parquet(os.path.join(run.inputs, "bench_docs.parquet"))
    first = 0 if p.index == 0 else 1
    expected = run.state["expected_waves"]
    admitted = sum(w["admitted"] for w in expected[:first])
    for k in range(first, len(expected)):
        path, want = run.state["waves"][k], expected[k]
        admitted += want["admitted"]

        def wave(rec, path=path, k=k):
            res = _part(rec, "writes", lambda: ingest_wave(
                spark, spark.read.parquet(path), state, wave_id=k, benchmark=bench))
            return res, _reads(rec, lambda: read_corpus(spark, state).toPandas())

        out = p.op(f"wave{k}", "wave", wave)
        if p.index == 0 and k == 0:
            run.state["state0"] = os.path.join(run.work, "state0")
            shutil.copytree(state, run.state["state0"])
        if out is None:
            continue
        res, corpus = out
        got = {key: res[key] for key in want}
        if got != want:
            p.fail(f"wave{k}", f"stage counts {got} != planted {want}")
        elif len(corpus) != admitted:
            p.fail(f"wave{k}", f"corpus rows {len(corpus)} != {admitted}")
        else:
            run.digests["corpus"] = digest(rows_key(corpus))
    if run.inject_failure:
        p.op("injected", "wave", _injected_failure)

    hourly, daily = os.path.join(p.dir, "hourly"), os.path.join(p.dir, "daily")
    ckpt = os.path.join(p.dir, "checkpoint")
    t0 = time.perf_counter()
    try:
        q = run_cascade(
            read_tick_stream(spark, run.state["ticks_dir"], max_files_per_trigger=1),
            hourly, daily, ckpt,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()).splitlines()[0])
        progress = q.recentProgress
    except Exception as exc:  # noqa: BLE001 — a failed stream is one failed op
        p.ops.append({"name": "stream", "role": "batch", "ok": False,
                      "wall_s": time.perf_counter() - t0, "error": str(exc)[:300]})
        return
    p.progress = progress
    for prog in progress:
        wall = prog["durationMs"].get("triggerExecution", 0) / 1e3
        p.ops.append({"name": f"batch{prog['batchId']}", "role": "batch", "ok": True,
                      "wall_s": wall, "writes": [wall]})
    if run.tracer is not None:
        rec = {"name": "stream"}
        run.collect_jobs(rec, groups=(str(q.runId),))
        p.stream_jobs = rec["jobs"]

    def read_cascade(rec):
        return tuple(
            _part(rec, "reads", lambda path=path: spark.read.parquet(path).toPandas())
            for path in (hourly, daily)
        )

    got = p.op("cascade:read", "read", read_cascade)
    if got is not None:
        why = check_cascade(run.state["ticks"], *got)
        if why:
            p.fail("cascade:read", why)
        run.digests["hourly"] = digest(rows_key(got[0]))
        run.digests["daily"] = digest(rows_key(got[1]))


def check_cascade(ticks: pd.DataFrame, hourly: pd.DataFrame, daily: pd.DataFrame) -> str:
    """Hourly windows closed by the 2-hour watermark, and the daily rollup
    of exactly those hours, recomputed in pandas. Floats compare to 1e-9
    relative: the engine averages through DECIMAL(38,12)."""
    t = ticks.copy()
    t["fetch_time"] = pd.to_datetime(t["fetch_time"])
    t["w"] = t["fetch_time"].dt.floor("h")
    closed = t["w"] + pd.Timedelta(hours=1) <= t["fetch_time"].max() - pd.Timedelta(hours=2)
    t = t[closed].sort_values("fetch_time")
    g = t.groupby("w")["price_float"]
    want_h = pd.DataFrame({
        "avg_price": g.mean(), "min_price": g.min(), "max_price": g.max(),
        "first_price": g.first(), "last_price": g.last(), "data_points": g.count(),
    }).reset_index()
    want_h["date"] = want_h["w"].dt.strftime("%Y-%m-%d")
    want_h["hour"] = want_h["w"].dt.hour
    h = hourly.copy()
    h["date"] = h["date"].astype(str).str[:10]
    h["hour"] = h["hour"].astype(int)
    keys = ["date", "hour"]
    merged = want_h.merge(h, on=keys, how="outer", suffixes=("_w", "_g"), indicator=True)
    if (merged["_merge"] != "both").any():
        return f"hourly keys differ: {int((merged['_merge'] != 'both').sum())} unmatched"
    for c in ("avg_price", "min_price", "max_price", "first_price", "last_price", "data_points"):
        if not np.allclose(merged[f"{c}_w"], merged[f"{c}_g"], rtol=1e-9, atol=0):
            return f"hourly {c} differs"
    hh = want_h.sort_values("hour")
    dg = hh.groupby("date")
    want_d = pd.DataFrame({
        "avg_price": dg["avg_price"].mean(), "min_price": dg["min_price"].min(),
        "max_price": dg["max_price"].max(), "opening_price": dg["first_price"].first(),
        "closing_price": dg["last_price"].last(), "total_data_points": dg["data_points"].sum(),
        "hours_with_data": dg["hour"].count(),
    }).reset_index()
    d = daily.copy()
    d["date"] = d["date"].astype(str).str[:10]
    merged = want_d.merge(d, on="date", how="outer", suffixes=("_w", "_g"), indicator=True)
    if (merged["_merge"] != "both").any():
        return "daily dates differ"
    for c in ("avg_price", "min_price", "max_price", "opening_price", "closing_price",
              "total_data_points", "hours_with_data"):
        if not np.allclose(merged[f"{c}_w"], merged[f"{c}_g"], rtol=1e-9, atol=0):
            return f"daily {c} differs"
    change = merged["closing_price_g"] - merged["opening_price_g"]
    if not np.allclose(merged["price_change"], change, rtol=1e-9, atol=1e-9):
        return "daily price_change differs"
    return ""


PREPARE = {"incremental_ingest": prepare_ingest}

PASSES = {
    "relational_etl": query_pass,
    "llm_eager": query_pass,
    "incremental_ingest": ingest_pass,
}
