"""Lightweight pipeline runner (SURVEY.md §2.11).

Re-expresses the reference's Airflow orchestration semantics for a
single-Spark-app world:

- task dependency ``>>`` / fan-out / fan-in → named stages with upstream
  lists, executed in topological order
  (lecture2/tutorial3_pipeline_orchestration.py:301-307)
- BranchPythonOperator → ``Branch`` stage whose callable picks which
  downstream stage ids run (Solutions/chapter05/dags/03_branch_dag.py:20-24)
- trigger rules ``all_success`` / ``none_failed`` / ``all_done`` →
  per-stage join semantics (tutorial4:400-405; 03_branch_dag.py:61-64)
- XCom → the shared ``context`` dict; stage return values are stored under
  the stage id (Solutions/chapter05/dags/09_xcoms.py:11-18) — within one
  Spark app a "handoff" is just a DataFrame reference, no serialization
- retries/backoff → ``RetryPolicy`` (tutorial4:56-65)
- sensors → ``wait_for`` predicate with poke interval/timeout
  (lecture5/02_pythonsensor.py:25-33)
- interval templating {{ds}}/{{next_ds}} → ``interval_context``
  (lecture3/08_templated_path.py:18-27)

Stages must be idempotent and side-effect-free except their sink — the
atomicity lesson of lecture3/10_non_atomic_send.py vs 11_atomic_send.py.
Independent ready stages are submitted concurrently from a thread pool,
mirroring Airflow's parallel task execution (tutorial2:335); their Spark
jobs share the session's default scheduler pool.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Mapping, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import date, timedelta
from enum import Enum
from typing import Any


class TriggerRule(str, Enum):
    ALL_SUCCESS = "all_success"  # Airflow default
    NONE_FAILED = "none_failed"  # join after a branch: skipped is fine
    ALL_DONE = "all_done"  # run regardless of upstream outcome
    ONE_SUCCESS = "one_success"


class State(str, Enum):
    PENDING = "pending"
    RUNNING = "running"
    SUCCESS = "success"
    FAILED = "failed"
    SKIPPED = "skipped"
    UPSTREAM_FAILED = "upstream_failed"


@dataclass(frozen=True)
class RetryPolicy:
    retries: int = 0
    delay_sec: float = 0.0
    backoff: float = 2.0  # exponential multiplier per attempt


class StageFailed(RuntimeError):
    def __init__(self, stage_id: str, cause: BaseException):
        super().__init__(f"stage {stage_id!r} failed: {cause}")
        self.stage_id = stage_id
        self.cause = cause


@dataclass
class Stage:
    """A named unit of work: ``fn(context) -> value``; the value is stored
    in the context under the stage id (XCom semantics)."""

    id: str
    fn: Callable[[dict[str, Any]], Any]
    upstream: Sequence[str] = ()
    trigger_rule: TriggerRule = TriggerRule.ALL_SUCCESS
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    # sensor semantics: wait until predicate(context) is truthy
    wait_for: Callable[[dict[str, Any]], bool] | None = None
    poke_interval_sec: float = 0.1
    timeout_sec: float = 60.0


@dataclass
class Branch(Stage):
    """fn(context) returns the stage id (or list of ids) to follow; other
    direct downstreams of this branch are SKIPPED."""


class Pipeline:
    def __init__(self, name: str, max_parallel: int = 4):
        self.name = name
        self.max_parallel = max_parallel
        self._stages: dict[str, Stage] = {}

    # -- construction -------------------------------------------------------
    def add(self, stage: Stage) -> "Pipeline":
        if stage.id in self._stages:
            raise ValueError(f"duplicate stage id {stage.id!r}")
        missing = [u for u in stage.upstream if u not in self._stages]
        if missing:
            raise ValueError(f"stage {stage.id!r}: unknown upstream {missing}")
        self._stages[stage.id] = stage
        return self

    def stage(
        self,
        id: str,
        upstream: Sequence[str] = (),
        **kwargs,
    ) -> Callable[[Callable], Callable]:
        """Decorator sugar: ``@p.stage("clean", upstream=["extract"])``."""

        def deco(fn):
            self.add(Stage(id=id, fn=fn, upstream=upstream, **kwargs))
            return fn

        return deco

    # -- execution ----------------------------------------------------------
    def run(self, context: Mapping[str, Any] | None = None) -> dict[str, Any]:
        """Execute all stages; returns the final context (stage values under
        their ids, states under '_states'). Raises StageFailed on the first
        failure that propagates (after trigger rules are applied)."""
        ctx: dict[str, Any] = dict(context or {})
        states: dict[str, State] = {s: State.PENDING for s in self._stages}
        chosen_by_branch: dict[str, set[str]] = {}
        ctx["_states"] = states

        def ready(sid: str) -> bool:
            st = self._stages[sid]
            ups = [states[u] for u in st.upstream]
            if any(u in (State.PENDING, State.RUNNING) for u in ups):
                return False
            # branch selection: if any upstream is a finished Branch that did
            # not choose us, we are skipped
            for u in st.upstream:
                if u in chosen_by_branch and sid not in chosen_by_branch[u]:
                    states[sid] = State.SKIPPED
                    return False
            rule = st.trigger_rule
            if rule == TriggerRule.ALL_SUCCESS:
                ok = all(u == State.SUCCESS for u in ups)
                if not ok:
                    states[sid] = (
                        State.SKIPPED
                        if all(u in (State.SUCCESS, State.SKIPPED) for u in ups)
                        else State.UPSTREAM_FAILED
                    )
                    return ok
                return True
            if rule == TriggerRule.NONE_FAILED:
                ok = all(
                    u in (State.SUCCESS, State.SKIPPED) for u in ups
                )
                if not ok:
                    states[sid] = State.UPSTREAM_FAILED
                return ok
            if rule == TriggerRule.ONE_SUCCESS:
                ok = any(u == State.SUCCESS for u in ups)
                if not ok:
                    states[sid] = State.UPSTREAM_FAILED
                return ok
            return True  # ALL_DONE

    # NB: ready() marks terminal skip/failed states as a side effect so the
    # scheduling loop converges.

        def execute(st: Stage) -> Any:
            if st.wait_for is not None:
                deadline = time.monotonic() + st.timeout_sec
                while not st.wait_for(ctx):
                    if time.monotonic() > deadline:
                        raise TimeoutError(f"sensor timeout in stage {st.id!r}")
                    time.sleep(st.poke_interval_sec)
            attempt, delay = 0, st.retry.delay_sec
            while True:
                try:
                    return st.fn(ctx)
                except Exception:
                    attempt += 1
                    if attempt > st.retry.retries:
                        raise
                    if delay:
                        time.sleep(delay)
                        delay *= st.retry.backoff
        with ThreadPoolExecutor(max_workers=self.max_parallel) as pool:
            futures: dict[Future, str] = {}
            while True:
                for sid, st in self._stages.items():
                    if states[sid] is State.PENDING and sid not in futures.values():
                        if ready(sid):
                            states[sid] = State.RUNNING
                            futures[pool.submit(execute, st)] = sid
                if not futures:
                    if all(
                        s
                        not in (State.PENDING, State.RUNNING)
                        for s in states.values()
                    ):
                        break
                    # stages remain but none ready and none running →
                    # they were terminally marked by ready(); loop once more
                    if not any(s is State.PENDING for s in states.values()):
                        break
                    continue
                done, _ = wait(list(futures), return_when=FIRST_COMPLETED)
                for fut in done:
                    sid = futures.pop(fut)
                    st = self._stages[sid]
                    try:
                        value = fut.result()
                    except Exception as exc:  # noqa: BLE001
                        states[sid] = State.FAILED
                        ctx.setdefault("_errors", {})[sid] = exc
                    else:
                        states[sid] = State.SUCCESS
                        ctx[sid] = value
                        if isinstance(st, Branch):
                            sel = value if isinstance(value, (list, tuple, set)) else [value]
                            chosen_by_branch[sid] = set(sel)

        failed = [s for s, v in states.items() if v is State.FAILED]
        if failed:
            sid = failed[0]
            raise StageFailed(sid, ctx.get("_errors", {}).get(sid, RuntimeError("failed")))
        return ctx


def interval_context(ds: str, interval_days: int = 1) -> dict[str, str]:
    """Airflow-style template values for one schedule interval:
    ds / next_ds (half-open [ds, next_ds) — lecture3/08:18-27)."""
    d = date.fromisoformat(ds)
    return {
        "ds": ds,
        "next_ds": (d + timedelta(days=interval_days)).isoformat(),
    }


def backfill_intervals(start_ds: str, end_ds: str, interval_days: int = 1) -> list[dict[str, str]]:
    """All intervals in [start, end) — the catchup/backfill plan
    (lecture3/10:11-16; 15:82-197). Each interval is independent and
    idempotent, so a driver can run them in any order or in parallel."""
    out = []
    d, end = date.fromisoformat(start_ds), date.fromisoformat(end_ds)
    while d < end:
        out.append(interval_context(d.isoformat(), interval_days))
        d += timedelta(days=interval_days)
    return out
