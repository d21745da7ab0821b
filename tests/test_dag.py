"""DAG runner: topological order, validation, per-task failure isolation,
and the declarative FAERS pipeline config."""

from __future__ import annotations

import pytest

from faers_datalakehouse_spark.plans.dag import (
    PipelineDAG,
    Task,
    dag_from_config,
)


def _t(name, log, deps=(), fail=False):
    def fn(spark):
        if fail:
            raise RuntimeError(f"boom in {name}")
        log.append(name)

    return Task(name, fn, tuple(deps))


def test_topological_order_respects_deps_and_config_order():
    log: list[str] = []
    dag = PipelineDAG(
        [
            _t("fact", log, deps=["dim_a", "dim_b"]),
            _t("dim_a", log, deps=["silver"]),
            _t("dim_b", log, deps=["silver"]),
            _t("silver", log, deps=["bronze"]),
            _t("bronze", log),
        ]
    )
    results = dag.run(spark=None)
    assert log == ["bronze", "silver", "dim_a", "dim_b", "fact"]
    assert all(r.status == "ok" for r in results.values())


def test_validation_rejects_bad_configs():
    with pytest.raises(ValueError, match="duplicate task names"):
        PipelineDAG([_t("a", []), _t("a", [])])
    with pytest.raises(ValueError, match="unknown tasks"):
        PipelineDAG([_t("a", [], deps=["ghost"])])
    with pytest.raises(ValueError, match="cycle"):
        PipelineDAG([_t("a", [], deps=["b"]), _t("b", [], deps=["a"])])


def test_failure_isolation_skips_descendants_only():
    log: list[str] = []
    dag = PipelineDAG(
        [
            _t("b1", log),
            _t("b2", log, fail=True),
            _t("s1", log, deps=["b1"]),
            _t("s2", log, deps=["b2"]),
            _t("d2", log, deps=["s2"]),
            _t("fact", log, deps=["s1", "s2"]),
        ]
    )
    r = dag.run(spark=None)
    # healthy branch ran to completion
    assert log == ["b1", "s1"]
    assert r["b2"].status == "failed" and "boom" in r["b2"].error
    assert r["s2"].status == "skipped" and r["s2"].blocked_by == "b2"
    assert r["d2"].status == "skipped" and r["d2"].blocked_by == "s2"
    assert r["fact"].status == "skipped" and r["fact"].blocked_by == "s2"
    assert r["s1"].status == "ok"


def test_dag_from_config_binds_known_kwargs_only():
    seen = {}

    def ingest(spark, name, ingest_ts):
        seen["ingest"] = (name, ingest_ts)

    def fact(spark):
        seen["fact"] = True

    dag = dag_from_config(
        [
            {"task": "b", "fn": "ingest", "args": {"name": "demo"}},
            {"task": "f", "fn": "fact", "depends_on": ["b"]},
        ],
        {"ingest": ingest, "fact": fact},
        ingest_ts="2024-01-01",
        effective_date="2024-01-02",  # accepted by neither fn — dropped
    )
    r = dag.run(spark=None)
    assert all(res.status == "ok" for res in r.values())
    assert seen == {"ingest": ("demo", "2024-01-01"), "fact": True}


def test_faers_pipeline_config_shape():
    from faers_datalakehouse_spark.plans.medallion import (
        BRONZE_COLUMNS,
        faers_pipeline_config,
        pipeline_registry,
    )

    sources = {n: f"/tmp/{n}.csv" for n in BRONZE_COLUMNS}
    cfg = faers_pipeline_config(sources)
    # reference parity: 7 bronze + 7 silver + dim_date + 7 dims + fact = 23
    # declared tasks (the reference's 16-task DAG folds bronze+silver into
    # 7 combined tasks; here they are split for finer failure isolation)
    assert len(cfg) == 23
    reg = pipeline_registry()
    assert {row["fn"] for row in cfg} <= set(reg)
    fact = next(r for r in cfg if r["task"] == "fact_adverse_events")
    assert set(fact["depends_on"]) == {f"silver_{n}" for n in sources} | {
        "dim_date"
    }
    # config validates as a DAG (no cycles, all deps known)
    dag_from_config(cfg, reg, ingest_ts="t", processed_ts="t", effective_date="d")

    # a partial-source run schedules only its own branches — the fact
    # reads all seven silver tables, so it must NOT be generated, and
    # neither is dim_date, which only the fact reads
    partial = faers_pipeline_config({"demographics": "/tmp/demo.csv"})
    names = {r["task"] for r in partial}
    assert names == {"bronze_demographics", "silver_demographics", "dim_patient"}
    # the quarterly refresh: one extract, its silver table and dim_drug
    refresh = faers_pipeline_config({"drug_details": "/tmp/drug.csv"})
    assert {r["task"] for r in refresh} == {
        "bronze_drug_details", "silver_drug_details", "dim_drug"
    }
    dag_from_config(refresh, reg, ingest_ts="t", processed_ts="t", effective_date="d")

    # optimize=True adds one post-write compaction leaf per silver table
    cfg_opt = faers_pipeline_config(sources, optimize=True)
    assert len(cfg_opt) == 23 + len(sources)
    opt = next(r for r in cfg_opt if r["task"] == "optimize_silver_reactions")
    assert opt["fn"] == "optimize_table"
    assert opt["depends_on"] == ["silver_reactions"]
    assert opt["args"] == {"table": "silver.reactions"}
    assert "optimize_table" in reg
    # fact must NOT depend on optimize leaves (they never gate the fact)
    fact_opt = next(r for r in cfg_opt if r["task"] == "fact_adverse_events")
    assert not any(d.startswith("optimize_") for d in fact_opt["depends_on"])
    dag_from_config(cfg_opt, reg, ingest_ts="t", processed_ts="t", effective_date="d")


def test_dag_forwards_bound_kwargs_to_var_keyword(spark):
    from faers_datalakehouse_spark.plans.dag import dag_from_config

    seen = {}

    def job(spark, **kwargs):
        seen.update(kwargs)

    dag = dag_from_config(
        [{"task": "t1", "fn": "job"}], {"job": job}, ingest_ts="2026-01-01"
    )
    dag.run(spark)
    assert seen.get("ingest_ts") == "2026-01-01"


def test_dag_rejects_args_bound_collision(spark):
    from faers_datalakehouse_spark.plans.dag import dag_from_config

    def job(spark, ingest_ts=None):
        pass

    with pytest.raises(ValueError, match="collide with"):
        dag_from_config(
            [{"task": "t1", "fn": "job", "args": {"ingest_ts": "x"}}],
            {"job": job},
            ingest_ts="y",
        )
