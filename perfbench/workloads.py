"""The benchmark's workloads: inputs, ops, how one op runs and how its
output is checked.

The query workload (``star_queries``) runs
``queries()[k](spark, sf_dir)`` plus the action ``bench.BENCH_QUERIES``
assigns to ``k`` (``count`` when it assigns none) over star tables that
``star_gen`` writes with a fixed seed; the workload seed only permutes op
order. ``medallion_etl`` runs ``plans.medallion.run_pipeline`` over FAERS
quarters that ``faers_gen`` writes from the workload seed: one full-source
load, then incremental refreshes of the drug extract.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from perfbench import faers_gen, star_gen
from perfbench.fingerprint import fingerprint, matches
from perfbench.trace import OpRecord

HERE = Path(__file__).resolve().parent
EXPECTED_PATH = HERE / "expected.json"
STAR_SEED = 20240101
STAR_SF = 0.01
FAERS_CASES = 1000  # cases per quarter; refresh time does not depend on it at this scale
# medallion_etl: quarter 1 is loaded from all seven extracts (set-up); every
# later quarter is a refresh of REFRESH_TABLE alone, the extract behind the
# SCD2-versioned gold.dim_drug. The fact is built only on full-source runs.
REFRESH_TABLE = "drug_details"
WARMUP_REFRESHES = 3  # untimed: the first refreshes run up to 30% slower (JIT)
MAX_REFRESHES = 6  # timed refreshes available to one run
LOAD_QUARTER, *REFRESH_QUARTERS = faers_gen.QUARTERS[: 1 + WARMUP_REFRESHES + MAX_REFRESHES]
MEDALLION_DBS = ("bronze", "silver", "gold")
GOLD_TABLES = (
    "dim_date", "dim_drug", "dim_patient", "dim_reaction", "dim_outcome",
    "dim_indication", "dim_therapy", "dim_report", "fact_adverse_events",
)
# run_pipeline task-name prefix -> the per-layer metric its seconds add to
TASK_LAYERS = (
    ("bronze_", "medallion.bronze_s"), ("silver_", "medallion.silver_s"),
    ("dim_", "medallion.dims_s"), ("fact_", "medallion.fact_s"),
)
MEDALLION_METRICS = tuple(metric for _, metric in TASK_LAYERS)


# ops of each workload, in pass order (star_queries permutes them by seed);
# BENCHMARK.json and README.md say why each workload is there
WORKLOAD_OPS = {
    "medallion_etl": ("refresh",),
    "star_queries": (
        "fact_sales", "regional_volume", "sessionize", "pagerank", "kmeans_clusters",
    ),
}


def load_expected() -> dict:
    return json.loads(EXPECTED_PATH.read_text())


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class QueryRunner:
    """Runs the ops of a query workload over the fixed star tables."""

    def __init__(self, work: Path):
        import bench
        import __spark_entry__ as entry

        self.work = work
        self.actions = {k: a for a, k in bench.BENCH_QUERIES.values()}
        self.queries = entry.queries()
        self.expected = load_expected()["ops"]
        self.sf_dir = ""

    def make_inputs(self, seed: int) -> None:
        del seed  # the star tables are fixed; the seed orders ops
        self.sf_dir = star_gen.generate(self.work / "star", STAR_SEED, STAR_SF)

    def run_op(
        self, spark, name: str, op_id: str, full_check: bool, tracing: bool
    ) -> tuple[OpRecord, bool, dict]:
        """One closed-loop op: build, force the executed plan, run the
        action. Returns the record, whether the output matched the expected
        fingerprint, and the fingerprint (row count only for a ``count`` op
        unless ``full_check``)."""
        action = self.actions.get(name, "count")
        persisted = _persistent_rdds(spark)
        t0 = time.time()
        df = self.queries[name](spark, self.sf_dir)
        t1 = time.time()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.time()
        rows = df.collect() if action == "collect" else None
        n = len(rows) if rows is not None else df.count()
        t3 = time.time()
        # outside the timed region from here on
        rec = OpRecord(
            op_id, name, t0, t3, [("build", t0, t1), ("plan", t1, t2), ("action", t2, t3)],
            extra=dict.fromkeys(MEDALLION_METRICS, 0.0),  # no pipeline tasks in a query op
        )
        rec.leaked_rdds = len(_persistent_rdds(spark) - persisted)
        if tracing:
            rec.catalyst_ms = _catalyst_ms(qe)
        if rows is None and full_check:
            rows = df.collect()
        fp = fingerprint(rows) if rows is not None else {"rows": n}
        return rec, matches(fp, self.expected[name]), fp


def _persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs registered as persistent; an op that leaves new ones
    behind leaks them (``clearCache`` drops only cached DataFrames)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _catalyst_ms(qe) -> dict[str, float]:
    """Catalyst phase durations from the QueryExecution's tracker."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


def _ingest(q: faers_gen.Quarter) -> tuple[str, str]:
    """(ingest_ts, effective_date) for ``run_pipeline``: the first day after
    the quarter ends."""
    month = q.first_month + 3
    day = f"{q.year + (month - 1) // 12}-{(month - 1) % 12 + 1:02d}-01"
    return f"{day} 00:00:00", day


class MedallionRunner:
    """A full-source load, then single-extract refreshes, into a fresh warehouse."""

    def __init__(self, work: Path):
        self.work = work
        self.sources: dict[str, dict[str, str]] = {}
        self.loaded: dict[str, dict[str, str]] = {}  # quarter -> the extracts run_pipeline got
        self.expected: dict[str, int] = {}

    def make_inputs(self, seed: int) -> None:
        n_quarters = 1 + len(REFRESH_QUARTERS)
        self.sources = faers_gen.generate(self.work / "faers", seed, FAERS_CASES, n_quarters)
        self.loaded = {}

    def csv_bytes(self) -> int:
        return sum(os.path.getsize(p) for q in self.loaded.values() for p in q.values())

    def reset(self, spark, warehouse: str) -> None:
        for db in MEDALLION_DBS:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(warehouse, ignore_errors=True)
        self.loaded = {}

    def run_op(self, spark, q: faers_gen.Quarter, op_id: str) -> tuple[OpRecord, dict]:
        """Load quarter ``q``: every extract for LOAD_QUARTER, the refresh
        extract for later ones. Returns the record and ``run_pipeline``'s
        per-task results."""
        from faers_datalakehouse_spark.plans.medallion import run_pipeline

        ingest_ts, effective = _ingest(q)
        sources = self.sources[q.tag]
        if q != LOAD_QUARTER:
            sources = {REFRESH_TABLE: sources[REFRESH_TABLE]}
        persisted = _persistent_rdds(spark)
        t0 = time.time()
        results = run_pipeline(spark, sources, ingest_ts, effective)
        t1 = time.time()
        self.loaded[q.tag] = sources
        rec = OpRecord(op_id, "refresh", t0, t1, [("build", t0, t1)])
        rec.leaked_rdds = len(_persistent_rdds(spark) - persisted)
        for prefix, metric in TASK_LAYERS:
            rec.extra[metric] = sum(
                r.seconds for task, r in results.items() if task.startswith(prefix)
            )
        return rec, results

    def _expected(self) -> dict[str, int]:
        """Row counts the warehouse must hold after the loaded quarters,
        from the generated CSVs alone."""
        full = {LOAD_QUARTER.tag: self.loaded[LOAD_QUARTER.tag]}
        total, current = faers_gen.expected_dim_drug(self.loaded)
        out = {"dim_drug": total, "dim_drug_current": current}
        out.update(faers_gen.expected_case_dims(full))  # refreshes add no cases
        for name in self.sources[LOAD_QUARTER.tag]:
            lines = [_data_lines(q[name]) for q in self.loaded.values() if name in q]
            out[f"bronze.{name}"] = sum(lines)  # bronze appends every batch
            out[f"silver.{name}"] = lines[-1]  # silver keeps the latest batch
        return out

    def check(self, spark) -> tuple[int, int, dict]:
        """(checks made, checks failed, gold fingerprints) after the run."""
        self.expected = self._expected()
        fps = {t: fingerprint(spark.table(f"gold.{t}").collect()) for t in GOLD_TABLES}
        got = {t: fp["rows"] for t, fp in fps.items()}
        for name in self.sources[LOAD_QUARTER.tag]:
            for layer in ("bronze", "silver"):
                got[f"{layer}.{name}"] = spark.table(f"{layer}.{name}").count()
        got["dim_drug_current"] = spark.table("gold.dim_drug").filter("is_current").count()
        failed = sum(got[k] != v for k, v in self.expected.items())
        # dim_date and the fact have no generator-side row count: they must not be empty
        unexpected = [t for t in GOLD_TABLES if t not in self.expected]
        failed += sum(got[t] == 0 for t in unexpected)
        return len(self.expected) + len(unexpected), failed, fps


def _data_lines(path: str) -> int:
    with open(path) as fh:
        return sum(1 for _ in fh) - 1
