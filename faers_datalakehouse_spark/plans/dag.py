"""Config-driven job DAG with per-task failure isolation.

The reference orchestrates its pipeline as a 16-task Databricks Jobs DAG
(reference ``resources/jobs/faers_pipeline.yml:24-203``: 7 bronze ∥ → 7
silver ∥ → dim_date → 7 dims ∥ → fact), where each task declares
``depends_on`` and a failed task skips its descendants while unrelated
branches keep running. ``run_pipeline`` previously hard-coded that order;
this module makes the dependency graph declarative data so a deployment
can add/remove sources or stages without editing control flow.

Design:

- A task is ``(name, fn, depends_on)``; ``fn(spark)`` is an arbitrary
  DataFrame job (bronze ingest, silver rebuild, SCD2 merge, ...).
- ``PipelineDAG.run`` executes in deterministic topological order
  (insertion-order-stable Kahn), isolating failures: a task runs iff every
  dependency succeeded; otherwise it is recorded ``skipped`` with the
  failing ancestor named. Independent branches are unaffected — exactly
  the reference scheduler's semantics.
- Validation at construction: duplicate names, unknown dependencies, and
  cycles all raise immediately (a config typo should fail fast, not
  mid-pipeline).

Tasks run sequentially on the driver: on a shared SparkSession the
cluster's parallelism lives *inside* each job (every task saturates the
executors with its own stages), so driver-side task concurrency adds
scheduler contention, not throughput. Deployments that want concurrent
independent tasks (e.g. 7 bronze ingests against 7 different source
systems) can submit per-task Spark apps from this same config — the DAG
semantics don't change.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Mapping, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Task:
    name: str
    fn: Callable[[SparkSession], Any]
    depends_on: tuple[str, ...] = ()


@dataclass
class TaskResult:
    status: str  # "ok" | "failed" | "skipped"
    seconds: float = 0.0
    error: str | None = None
    blocked_by: str | None = None
    exception: BaseException | None = None  # original, for re-raise/chaining
    traceback: str | None = None


@dataclass
class PipelineDAG:
    tasks: Sequence[Task]
    _order: list[Task] = field(init=False, repr=False)

    def __post_init__(self) -> None:
        names = [t.name for t in self.tasks]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate task names: {sorted(dupes)}")
        known = set(names)
        for t in self.tasks:
            unknown = [d for d in t.depends_on if d not in known]
            if unknown:
                raise ValueError(
                    f"task {t.name!r} depends on unknown tasks {unknown}"
                )
        self._order = self._toposort()

    def _toposort(self) -> list[Task]:
        by_name = {t.name: t for t in self.tasks}
        indeg = {t.name: len(set(t.depends_on)) for t in self.tasks}
        dependents: dict[str, list[str]] = {t.name: [] for t in self.tasks}
        for t in self.tasks:
            for d in set(t.depends_on):
                dependents[d].append(t.name)
        # insertion-order-stable Kahn: ready tasks run in config order
        ready = [t.name for t in self.tasks if indeg[t.name] == 0]
        order: list[Task] = []
        while ready:
            n = ready.pop(0)
            order.append(by_name[n])
            for m in dependents[n]:
                indeg[m] -= 1
                if indeg[m] == 0:
                    ready.append(m)
        if len(order) != len(self.tasks):
            stuck = sorted(n for n, d in indeg.items() if d > 0)
            raise ValueError(f"dependency cycle involving: {stuck}")
        return order

    def run(self, spark: SparkSession) -> dict[str, TaskResult]:
        """Execute all tasks; returns per-task results in execution order.

        A failure marks its descendants ``skipped`` but sibling branches
        still run (the reference scheduler's behavior).
        """
        results: dict[str, TaskResult] = {}
        for t in self._order:
            bad = next(
                (d for d in t.depends_on if results[d].status != "ok"), None
            )
            if bad is not None:
                results[t.name] = TaskResult("skipped", blocked_by=bad)
                continue
            t0 = time.time()
            try:
                t.fn(spark)
                results[t.name] = TaskResult("ok", round(time.time() - t0, 3))
            except Exception as e:  # noqa: BLE001 — isolation is the point
                import traceback as _tb

                results[t.name] = TaskResult(
                    "failed",
                    round(time.time() - t0, 3),
                    error=repr(e),
                    exception=e,
                    traceback=_tb.format_exc(),
                )
        return results


def dag_from_config(
    config: Iterable[Mapping[str, Any]],
    registry: Mapping[str, Callable[..., Any]],
    **bound_kwargs: Any,
) -> PipelineDAG:
    """Build a DAG from declarative config rows.

    Each row: ``{"task": str, "fn": str, "depends_on": [str, ...],
    "args": {...}}`` — ``fn`` names a callable in ``registry`` invoked as
    ``fn(spark, **args, **bound_kwargs_it_accepts)``. ``bound_kwargs``
    (e.g. ``ingest_ts``, ``effective_date``) are forwarded only to
    functions whose signature accepts them, so one config-wide clock can
    be injected without every task declaring it.
    """
    import inspect

    tasks = []
    for row in config:
        fn = registry[row["fn"]]
        args = dict(row.get("args", {}))
        sig = inspect.signature(fn)
        has_var_kw = any(
            p.kind is inspect.Parameter.VAR_KEYWORD
            for p in sig.parameters.values()
        )
        accepts = {
            k: v
            for k, v in bound_kwargs.items()
            # **kwargs functions accept everything — `k in sig.parameters`
            # alone silently withheld the config-wide clock from them
            if k in sig.parameters or has_var_kw
        }
        dup = set(args) & set(accepts)
        if dup:
            # fail at BUILD time with a config-shaped message, not a
            # mid-pipeline TypeError("multiple values for ...")
            raise ValueError(
                f"task {row['task']!r}: args {sorted(dup)} collide with "
                "dag-level bound kwargs; remove one side"
            )

        def call(spark: SparkSession, _fn=fn, _a=args, _b=accepts) -> Any:
            return _fn(spark, **_a, **_b)

        tasks.append(
            Task(row["task"], call, tuple(row.get("depends_on", ())))
        )
    return PipelineDAG(tasks)
