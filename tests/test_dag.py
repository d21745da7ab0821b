"""The pipeline's task list: run order, the earlier-dependency check,
per-task failure isolation, and the FAERS pipeline's task names and
order for full and refresh runs, with and without ``optimize``."""

from __future__ import annotations

import pytest

from faers_datalakehouse_spark.plans.medallion import (
    BRONZE_COLUMNS,
    Task,
    pipeline_tasks,
    run_tasks,
)


def _t(name, log, deps=(), fail=False):
    def fn(spark):
        if fail:
            raise RuntimeError(f"boom in {name}")
        log.append(name)

    return Task(name, fn, tuple(deps))


def test_topological_order_respects_deps_and_config_order():
    log: list[str] = []
    results = run_tasks(
        None,
        [
            _t("bronze", log),
            _t("silver", log, deps=["bronze"]),
            _t("dim_b", log, deps=["silver"]),
            _t("dim_a", log, deps=["silver"]),
            _t("fact", log, deps=["dim_a", "dim_b"]),
        ],
    )
    assert log == ["bronze", "silver", "dim_b", "dim_a", "fact"]
    assert list(results) == log
    assert all(r.status == "ok" for r in results.values())


def test_validation_rejects_bad_configs():
    log: list[str] = []
    # an unknown dependency, a later one and a cycle all name a task that
    # does not run before the dependent; nothing runs
    for tasks in (
        [_t("a", log, deps=["ghost"])],
        [_t("a", log, deps=["b"]), _t("b", log)],
        [_t("a", log, deps=["b"]), _t("b", log, deps=["a"])],
        [_t("a", log, deps=["a"])],
    ):
        with pytest.raises(ValueError, match="do not run before it"):
            run_tasks(None, [_t("first", log), *tasks])
    assert log == []


def test_failure_isolation_skips_descendants_only():
    log: list[str] = []
    r = run_tasks(
        None,
        [
            _t("b1", log),
            _t("b2", log, fail=True),
            _t("s1", log, deps=["b1"]),
            _t("s2", log, deps=["b2"]),
            _t("d2", log, deps=["s2"]),
            _t("fact", log, deps=["s1", "s2"]),
            _t("d1", log, deps=["s1"]),
        ],
    )
    # the healthy branch ran to completion, after the failure too
    assert log == ["b1", "s1", "d1"]
    assert r["b2"].status == "failed" and "boom" in r["b2"].error
    assert isinstance(r["b2"].exception, RuntimeError)
    assert r["s2"].status == "skipped" and r["s2"].blocked_by == "b2"
    assert r["d2"].status == "skipped" and r["d2"].blocked_by == "s2"
    assert r["fact"].status == "skipped" and r["fact"].blocked_by == "s2"
    assert r["s1"].status == "ok" and r["d1"].status == "ok"


SILVER = [f"silver_{n}" for n in BRONZE_COLUMNS]
DIMS = [
    "dim_patient", "dim_drug", "dim_reaction", "dim_outcome",
    "dim_indication", "dim_report", "dim_therapy",
]


def _names(sources, optimize=False):
    return [t.name for t in pipeline_tasks(sources, "t", "d", optimize)]


def test_faers_pipeline_config_shape():
    full = {n: f"/tmp/{n}.csv" for n in BRONZE_COLUMNS}
    # the full load: 7 bronze, dim_date, 7 silver, 7 SCD2 dims, the fact
    assert _names(full) == [
        *[f"bronze_{n}" for n in BRONZE_COLUMNS],
        "dim_date",
        *SILVER,
        *DIMS,
        "fact_adverse_events",
    ]
    # optimize adds a compaction leaf before each extract's dim
    assert _names(full, optimize=True) == [
        *[f"bronze_{n}" for n in BRONZE_COLUMNS],
        "dim_date",
        *SILVER,
        *[t for s, d in zip(SILVER, DIMS) for t in (f"optimize_{s}", d)],
        "fact_adverse_events",
    ]
    # the quarterly refresh: one extract, its silver table and dim_drug;
    # no dim_date and no fact (the fact reads all seven silver tables)
    refresh = {"drug_details": "/tmp/drug.csv"}
    assert _names(refresh) == [
        "bronze_drug_details", "silver_drug_details", "dim_drug",
    ]
    assert _names(refresh, optimize=True) == [
        "bronze_drug_details", "silver_drug_details",
        "optimize_silver_drug_details", "dim_drug",
    ]

    tasks = {t.name: t for t in pipeline_tasks(full, "t", "d", optimize=True)}
    assert tasks["fact_adverse_events"].depends_on == (*SILVER, "dim_date")
    assert tasks["optimize_silver_reactions"].depends_on == ("silver_reactions",)
    assert tasks["dim_reaction"].depends_on == ("silver_reactions",)
    assert tasks["silver_reactions"].depends_on == ("bronze_reactions",)

    with pytest.raises(ValueError, match="unknown sources"):
        pipeline_tasks({"drug_details": "a", "drugs": "b"}, "t", "d")
