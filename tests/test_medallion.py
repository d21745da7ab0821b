"""End-to-end medallion pipeline integration test: two incremental runs of
FAERS-shaped CSVs through bronze → silver → gold, asserting incremental
reads, SCD2 evolution, and fact grain/rollup semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.plans.medallion import run_pipeline

Q1 = {
    "demographics": (
        "primaryid$caseid$event_dt$rept_dt$fda_dt$age$age_cod$sex$wt$wt_cod$occp_cod$reporter_country\n"
        "101$1001$20240115$20240120$20240125$45$YR$F$70$KG$MD$US\n"
        "102$1002$202402$$20240301$24$MON$M$154$LBS$CN$GB\n"
        "103$1003$invalid$$$$YR$F$$KG$OT$JP\n"
    ),
    "drug_details": (
        "primaryid$caseid$drug_seq$role_cod$drugname$route$dose_vbm\n"
        "101$1001$1$PS$  aspirin!  $ORAL$10 mg, TWICE DAILY\n"
        "101$1001$2$C$tylenol$ORAL$500 mg\n"
        "102$1002$1$PS$ibuprofen$INTRAVENOUS (BOLUS)$25 mg\n"
        "103$1003$1$SS$aspirin$TOPICAL$\n"
    ),
    "reactions": (
        "primaryid$caseid$pt$drug_rec_act\n"
        "101$1001$CARDIAC ARREST$1\n"
        "101$1001$NAUSEA$\n"
        "102$1002$SEVERE RASH$2\n"
        "103$1003$DEATH$\n"
    ),
    "outcomes": (
        "primaryid$caseid$outc_cod\n"
        "101$1001$HO\n"
        "101$1001$OT\n"
        "103$1003$DE\n"
    ),
    "indications": (
        "primaryid$caseid$indi_drug_seq$indi_pt\n"
        "101$1001$1$RHEUMATOID ARTHRITIS\n"
        "101$1001$2$MILD HEADACHE\n"
        "102$1002$1$ACUTE PAIN\n"
    ),
    "reports": (
        "primaryid$caseid$rpsr_cod\n"
        "101$1001$HP\n"
        "102$1002$CSM\n"
    ),
    "therapy_dates": (
        "primaryid$caseid$dsg_drug_seq$start_dt$end_dt$dur$dur_cod\n"
        "101$1001$1$20240101$20240110$$\n"
        "102$1002$1$20240201$$2$WK\n"
    ),
}

# Q2: aspirin's route changes (SCD2 change), a new drug arrives.
Q2 = {
    "demographics": (
        "primaryid$caseid$event_dt$rept_dt$fda_dt$age$age_cod$sex$wt$wt_cod$occp_cod$reporter_country\n"
        "201$2001$20240501$20240510$20240515$60$YR$M$80$KG$MD$BR\n"
    ),
    "drug_details": (
        "primaryid$caseid$drug_seq$role_cod$drugname$route$dose_vbm\n"
        "201$2001$1$PS$aspirin$SUBCUTANEOUS$5 mg\n"
        "201$2001$2$SS$metformin$ORAL$850 mg\n"
    ),
    "reactions": (
        "primaryid$caseid$pt$drug_rec_act\n201$2001$LIVER INJURY$1\n"
    ),
    "outcomes": ("primaryid$caseid$outc_cod\n201$2001$LT\n"),
    "indications": (
        "primaryid$caseid$indi_drug_seq$indi_pt\n"
        "201$2001$1$DIABETES MELLITUS\n"
    ),
    "reports": ("primaryid$caseid$rpsr_cod\n201$2001$LW\n"),
    "therapy_dates": (
        "primaryid$caseid$dsg_drug_seq$start_dt$end_dt$dur$dur_cod\n"
        "201$2001$1$20240401$$$\n"
    ),
}


# every silver table's columns, in order: the shared silver tail keeps them
SILVER_COLUMNS = {
    "demographics": [
        "primary_id", "case_id", "sex", "occp_cod", "reporter_country",
        "_ingest_ts", "event_date", "report_date", "fda_date", "age_years",
        "age_group", "weight_kg", "sex_desc", "reporter_region",
        "_processed_ts",
    ],
    "drug_details": [
        "primary_id", "case_id", "role_cod", "route", "dose_vbm", "_ingest_ts",
        "drug_name", "role_desc", "route_category", "drug_seq_num", "dose",
        "dose_unit", "dose_frequency", "_processed_ts",
    ],
    "reactions": [
        "primary_id", "case_id", "drug_rec_act", "_ingest_ts", "reaction_pt",
        "reaction_category", "reaction_severity", "_processed_ts",
    ],
    "outcomes": [
        "primary_id", "case_id", "outc_cod", "_ingest_ts", "outcome_desc",
        "outcome_severity", "_processed_ts",
    ],
    "indications": [
        "primary_id", "case_id", "_ingest_ts", "indication_pt",
        "therapeutic_area", "indication_severity", "indi_drug_seq_num",
        "_processed_ts",
    ],
    "reports": [
        "primary_id", "case_id", "rpsr_cod", "_ingest_ts",
        "reporter_source_desc", "reporter_category",
        "reporter_reliability_score", "regulatory_priority", "_processed_ts",
    ],
    "therapy_dates": [
        "primary_id", "case_id", "dur_cod", "_ingest_ts", "therapy_start_date",
        "therapy_end_date", "drug_seq_num", "duration_description",
        "therapy_duration_days_observed", "reported_duration_days",
        "therapy_status", "duration_category", "_processed_ts",
    ],
}


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("medallion")

    def write_quarter(quarter: dict[str, str], tag: str) -> dict[str, str]:
        paths = {}
        for name, content in quarter.items():
            p = d / f"{name}_{tag}.csv"
            p.write_text(content)
            paths[name] = str(p)
        return paths

    run_pipeline(spark, write_quarter(Q1, "q1"), "2024-04-01 00:00:00", "2024-04-01")
    run_pipeline(spark, write_quarter(Q2, "q2"), "2024-07-01 00:00:00", "2024-07-01")
    return spark


def test_bronze_partitioned_appends(warehouse):
    spark = warehouse
    demo = spark.table("bronze.demographics")
    assert demo.count() == 4  # 3 from q1 + 1 from q2, both partitions kept
    assert demo.select("_ingest_ts").distinct().count() == 2


def test_silver_uses_latest_partition_only(warehouse):
    spark = warehouse
    for name, columns in SILVER_COLUMNS.items():
        assert spark.table(f"silver.{name}").columns == columns, name
    demo = spark.table("silver.demographics")
    assert demo.count() == 1  # only the q2 batch
    row = demo.collect()[0]
    assert row["primary_id"] == "201"
    assert row["age_years"] == 60.0 and row["age_group"] == "Adult (18-64)"
    assert row["reporter_region"] == "Latin America"


def test_silver_transform_semantics_on_q1(spark, tmp_path_factory):
    # Re-run silver over a fresh bronze containing only q1 to check decodes.
    from faers_datalakehouse_spark.plans.medallion import (
        bronze_ingest,
        silver_table,
    )

    from faers_datalakehouse_spark.sources.catalog import ensure_schemas

    d = tmp_path_factory.mktemp("q1only")
    p = d / "demo.csv"
    p.write_text(Q1["demographics"])
    ensure_schemas(spark)  # independent of the warehouse fixture's ordering
    spark.sql("DROP TABLE IF EXISTS bronze.demographics")
    bronze_ingest(spark, "demographics", str(p), "2024-04-01 00:00:00")
    silver_table(spark, "demographics", "2024-04-01 00:00:00")
    rows = {r["primary_id"]: r for r in spark.table("silver.demographics").collect()}
    assert rows["101"]["event_date"].isoformat() == "2024-01-15"
    assert rows["102"]["event_date"].isoformat() == "2024-02-01"  # yyyyMM
    assert rows["103"]["event_date"] is None  # invalid
    assert rows["102"]["age_years"] == 2.0  # 24 months
    assert abs(rows["102"]["weight_kg"] - 69.85) < 0.01  # 154 lbs
    assert rows["103"]["age_years"] is None  # empty age


def test_silver_dosage_parsing(warehouse):
    spark = warehouse
    # latest (q2) batch: aspirin "5 mg", metformin "850 mg"
    rows = {r["drug_name"]: r for r in spark.table("silver.drug_details").collect()}
    assert rows["ASPIRIN"]["dose"] == 5.0 and rows["ASPIRIN"]["dose_unit"] == "MG"
    assert rows["METFORMIN"]["dose"] == 850.0


def test_silver_new_tables(warehouse):
    spark = warehouse
    # latest partition only → just the q2 batch in each
    ind = spark.table("silver.indications").collect()
    assert len(ind) == 1
    assert ind[0]["therapeutic_area"] == "Endocrinology"
    assert ind[0]["indication_pt"] == "Diabetes Mellitus"
    rep = spark.table("silver.reports").collect()
    assert len(rep) == 1
    assert rep[0]["reporter_reliability_score"] == 4  # LW
    assert rep[0]["regulatory_priority"] == "Medium"
    th = spark.table("silver.therapy_dates").collect()
    assert len(th) == 1
    assert th[0]["therapy_status"] == "Ongoing"
    assert th[0]["therapy_start_date"].isoformat() == "2024-04-01"


def test_all_scd2_dims_materialize(warehouse):
    spark = warehouse
    for dim in (
        "dim_drug", "dim_patient", "dim_reaction", "dim_outcome",
        "dim_indication", "dim_therapy", "dim_report",
    ):
        df = spark.table(f"gold.{dim}")
        assert df.filter(F.col("is_current")).count() >= 1, dim
        # SCD2 metadata columns present on every dimension
        for c in ("dim_key", "effective_date", "end_date", "is_current"):
            assert c in df.columns, f"{dim}.{c}"


def test_analytics_report_suite(warehouse):
    """The reference's 9-report analytics job over the gold fact
    (fact_analytics.py parity) — run on the q2 (latest) pipeline state."""
    from faers_datalakehouse_spark.plans import faers_analytics as FA

    spark = warehouse
    FA.generate_all(spark)
    # q2 state: one report (201/2001), one drug row ASPIRIN + METFORMIN
    top = {r["drug_name"]: r for r in spark.table("gold.analytics_top_drugs").collect()}
    assert set(top) == {"ASPIRIN", "METFORMIN"}
    assert top["ASPIRIN"]["total_events"] == 1
    assert top["ASPIRIN"]["serious_count"] == 1  # LT → severity 6 → serious
    summary = spark.table("gold.analytics_summary").collect()[0]
    assert summary["total_cases"] == 1
    assert summary["total_drugs"] == 2
    assert summary["elderly_events"] == 0  # age 60 is Adult, not >=65
    assert summary["total_events"] == 2  # 1 reaction x 2 drugs
    quality = {
        r["data_quality_tier"]: r
        for r in spark.table("gold.analytics_data_quality").collect()
    }
    assert sum(r["percentage"] for r in quality.values()) == 100.0
    cx = spark.table("gold.analytics_case_complexity").collect()
    assert cx[0]["case_complexity"] == "Moderate"  # 2 drugs in case 2001
    years = spark.table("gold.analytics_yearly_trends").collect()
    assert [r["event_year"] for r in years] == [2024]


def test_scd2_dim_drug_evolution(warehouse):
    spark = warehouse
    dim = spark.table("gold.dim_drug")
    aspirin = dim.filter(F.col("drug_name") == "ASPIRIN").orderBy("effective_date")
    hist = [
        (r["route_category"], r["is_current"]) for r in aspirin.collect()
    ]
    # q1: Oral (current=false after change) → q2: Subcutaneous current
    assert hist == [("Oral", False), ("Subcutaneous", True)]
    metformin = dim.filter(F.col("drug_name") == "METFORMIN").collect()
    assert len(metformin) == 1 and metformin[0]["is_current"]


def test_fact_grain_and_rollup(spark, tmp_path_factory):
    # Rebuild everything from q1 alone for a closed-form fact check.
    from faers_datalakehouse_spark.plans.medallion import run_pipeline

    for t in [
        "bronze.demographics", "bronze.drug_details", "bronze.reactions",
        "bronze.outcomes", "bronze.indications", "bronze.reports",
        "bronze.therapy_dates", "gold.dim_drug", "gold.dim_patient",
        "gold.dim_reaction", "gold.dim_outcome", "gold.dim_indication",
        "gold.dim_therapy", "gold.dim_report",
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    d = tmp_path_factory.mktemp("q1fact")
    paths = {}
    for name, content in Q1.items():
        p = d / f"{name}.csv"
        p.write_text(content)
        paths[name] = str(p)
    # optimize=True also exercises the post-write compaction leaf tasks
    results = run_pipeline(
        spark, paths, "2024-04-01 00:00:00", "2024-04-01", optimize=True
    )
    assert results["optimize_silver_reactions"].status == "ok"

    fact = spark.table("gold.fact_adverse_events")
    # grain: drug × reaction per report: 101 has 2 drugs × 2 reactions = 4;
    # 102: 1×1; 103: 1×1 → 6 rows
    assert fact.count() == 6
    r101 = fact.filter(F.col("primary_id") == "101")
    assert r101.count() == 4
    # worst outcome for 101 = HO (rank 3, reference ladder) → serious
    # (serious set {DE,LT,CA,DS,HO} = rank >= 3, dim_outcome.py:84-86)
    assert {r["worst_outcome_severity"] for r in r101.collect()} == {3}
    assert all(r["is_serious"] for r in r101.collect())
    # 102 has no outcome row → severity 0, not serious
    r102 = fact.filter(F.col("primary_id") == "102").collect()
    assert r102[0]["worst_outcome_severity"] == 0 and not r102[0]["is_serious"]
    # triple date-dim join (J7 x3): event/report/fda keys for valid dates
    assert r101.filter(F.col("event_date_key") == 20240115).count() == 4
    assert r101.filter(F.col("report_date_key") == 20240120).count() == 4
    assert r101.filter(F.col("fda_date_key") == 20240125).count() == 4
    assert r101.collect()[0]["report_year_quarter"] == "2024-Q1"
    assert r101.collect()[0]["fda_reporting_period"] == "2021+"
    # 102: empty rept_dt -> NULL report key, valid fda key
    r102all = fact.filter(F.col("primary_id") == "102").collect()[0]
    assert r102all["report_date_key"] is None
    assert r102all["fda_date_key"] == 20240301
    cats = {r["reaction_category"] for r in fact.collect()}
    assert {"Cardiac", "Gastrointestinal", "Dermatological", "Fatal"} <= cats
    # 7-table breadth: indication/therapy attach per (report, drug_seq),
    # reports per report, absent sides coalesce to defaults
    d1 = r101.filter(F.col("drug_seq_num") == 1).collect()[0]
    assert d1["indication_pt"] == "Rheumatoid Arthritis"
    assert d1["therapeutic_area"] == "Rheumatology"
    assert d1["therapy_duration_days"] == 9.0  # observed dates win
    assert d1["therapy_status"] == "Completed"
    assert d1["reporter_source_desc"] == "Health Professional"
    assert d1["reporter_reliability_score"] == 5
    d2 = r101.filter(F.col("drug_seq_num") == 2).collect()[0]
    assert d2["indication_pt"] == "Mild Headache"
    assert d2["therapeutic_area"] == "Other"
    assert d2["therapy_status"] == "Unknown"  # no therapy row for drug 2
    r102 = fact.filter(F.col("primary_id") == "102").collect()[0]
    assert r102["therapy_status"] == "Ongoing"
    assert r102["therapy_duration_days"] == 14.0  # reported 2 WK
    r103 = fact.filter(F.col("primary_id") == "103").collect()[0]
    assert r103["indication_pt"] == "Unknown"
    assert r103["reporter_source_desc"] == "Unspecified"
    assert r103["reporter_reliability_score"] == 1


def test_cli_main_runs_pipeline(spark, tmp_path):
    """python -m faers_datalakehouse_spark over a source dir (direct call —
    the session is reused via getOrCreate, keeping the test in-process)."""
    from faers_datalakehouse_spark.__main__ import main

    src = tmp_path / "src"
    src.mkdir()
    for name, content in Q1.items():
        (src / f"{name}.csv").write_text(content)
    # fresh tables for a deterministic count
    for t in [
        "bronze.demographics", "bronze.drug_details", "bronze.reactions",
        "bronze.outcomes", "bronze.indications", "bronze.reports",
        "bronze.therapy_dates", "gold.dim_drug", "gold.dim_patient",
        "gold.dim_reaction", "gold.dim_outcome", "gold.dim_indication",
        "gold.dim_therapy", "gold.dim_report",
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    rc = main([str(src), "--ingest-ts", "2024-04-01 00:00:00",
               "--effective-date", "2024-04-01"])
    assert rc == 0
    assert spark.table("gold.fact_adverse_events").count() == 6
    assert main([str(tmp_path / "nope")]) == 2  # missing sources → error code


def test_failed_extract_skips_only_its_branch(spark, tmp_path):
    """A refresh whose ``reports`` CSV is missing still finishes the
    ``drug_details`` branch through ``dim_drug``, skips the reports
    branch, and then raises, chained from the ingest failure."""
    for t in ("bronze.drug_details", "silver.drug_details", "gold.dim_drug"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    drugs = tmp_path / "drug_details.csv"
    drugs.write_text(Q2["drug_details"])
    sources = {"drug_details": str(drugs), "reports": str(tmp_path / "nope.csv")}
    with pytest.raises(RuntimeError, match="bronze_reports") as err:
        run_pipeline(spark, sources, "2024-10-01 00:00:00", "2024-10-01")
    assert "skipped downstream: ['silver_reports', 'dim_report']" in str(err.value)
    assert err.value.__cause__ is not None
    dim = spark.table("gold.dim_drug").filter(F.col("is_current"))
    assert sorted(r["drug_name"] for r in dim.collect()) == ["ASPIRIN", "METFORMIN"]
