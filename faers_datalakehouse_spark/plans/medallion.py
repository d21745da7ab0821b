"""End-to-end medallion pipeline (Bronze → Silver → Gold) for FAERS-shaped
adverse-event data — the reference's full job DAG as a library.

Reference lifecycle parity (SURVEY.md §3):
- EP1 bronze: ``$``-CSV scan with an all-string schema + ingestion metadata,
  appended partitioned by ``_ingest_ts`` (``src/bronze/ingest_*.py``).
- EP2 silver: latest-partition incremental read → date/numeric
  standardization → domain decodes → bulk rename → audit columns →
  overwrite (``src/silver/silver_*.py``).
- EP3 gold: generated date dimension (Type 1), SCD2-maintained drug
  dimension, and the drug×reaction-grain fact with outcome severity rollup
  (``src/gold/**``).

Everything is deterministic under an injected ``ingest_ts``/``effective_date``
clock. Tables are plain ``saveAsTable`` (parquet) in whatever warehouse the
session points at; at cluster scale the same code runs over Delta/Iceberg by
changing the session's default format.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.faers import (
    DURATION_UNIT_DECODE,
    REPORT_SOURCE_DECODE,
    ROLE_DECODE,
    SEX_DECODE,
    age_in_years,
    country_region,
    duration_category,
    indication_severity,
    outcome_description,
    outcome_severity,
    reaction_category,
    reaction_severity,
    regulatory_priority,
    reporter_category,
    reporter_reliability_score,
    route_category,
    therapeutic_area,
    therapy_duration_days,
    therapy_status,
    weight_in_kg,
)
from ..functions.transforms import (
    age_group,
    decode_ladder,
    parse_dosage,
    standardize_date,
    standardize_name,
)
from ..operators.scd2 import one_per_key, scd2_table_apply
from ..sources.catalog import ensure_schemas, read_latest_partition
from ..sources.ingest import add_ingestion_metadata, all_string_schema, read_csv_enforced
from ..sources.maintenance import compact_table
from .date_dim import build_date_dim

BRONZE_COLUMNS: dict[str, list[str]] = {
    "demographics": [
        "primaryid", "caseid", "event_dt", "rept_dt", "fda_dt", "age",
        "age_cod", "sex", "wt", "wt_cod", "occp_cod", "reporter_country",
    ],
    "drug_details": [
        "primaryid", "caseid", "drug_seq", "role_cod", "drugname", "route",
        "dose_vbm",
    ],
    "reactions": ["primaryid", "caseid", "pt", "drug_rec_act"],
    "outcomes": ["primaryid", "caseid", "outc_cod"],
    "indications": ["primaryid", "caseid", "indi_drug_seq", "indi_pt"],
    "reports": ["primaryid", "caseid", "rpsr_cod"],
    "therapy_dates": [
        "primaryid", "caseid", "dsg_drug_seq", "start_dt", "end_dt",
        "dur", "dur_cod",
    ],
}


def bronze_ingest(
    spark: SparkSession, name: str, src_path: str, ingest_ts: str
) -> None:
    """EP1: schema-enforced CSV → +audit columns → partitioned append."""
    schema = all_string_schema(BRONZE_COLUMNS[name])
    df = read_csv_enforced(spark, src_path, schema)
    df = add_ingestion_metadata(
        df, ingest_ts=F.lit(ingest_ts).cast("timestamp")
    )
    df.write.mode("append").partitionBy("_ingest_ts").saveAsTable(f"bronze.{name}")


def silver_table(spark: SparkSession, name: str, processed_ts: str) -> None:
    """EP2, the tail every silver build shares: the latest bronze
    partition of ``name`` → its own transform (``SOURCES``) → the
    reference's key renames → audit column → overwrite ``silver.<name>``."""
    transform, _, _ = SOURCES[name]
    out = (
        transform(read_latest_partition(spark, f"bronze.{name}"))
        .withColumnsRenamed({"primaryid": "primary_id", "caseid": "case_id"})
        .drop("_source_file")
        .withColumn("_processed_ts", F.lit(processed_ts).cast("timestamp"))
    )
    out.write.mode("overwrite").saveAsTable(f"silver.{name}")


def _silver_demographics(raw: DataFrame) -> DataFrame:
    return (
        raw.withColumn("event_date", standardize_date("event_dt"))
        .withColumn("report_date", standardize_date("rept_dt"))
        .withColumn("fda_date", standardize_date("fda_dt"))
        .withColumn("age_years", F.round(age_in_years("age", "age_cod"), 2))
        .withColumn("age_group", age_group(age_in_years("age", "age_cod")))
        .withColumn("weight_kg", F.round(weight_in_kg("wt", "wt_cod"), 2))
        .withColumn("sex_desc", decode_ladder("sex", SEX_DECODE))
        .withColumn("reporter_region", country_region("reporter_country"))
        .drop("event_dt", "rept_dt", "fda_dt", "age", "age_cod", "wt", "wt_cod")
    )


def _silver_drug_details(raw: DataFrame) -> DataFrame:
    dosage = parse_dosage("dose_vbm")
    return (
        raw.withColumn("drug_name", standardize_name("drugname"))
        .withColumn("role_desc", decode_ladder("role_cod", ROLE_DECODE))
        .withColumn("route_category", route_category("route"))
        .withColumn("drug_seq_num", F.col("drug_seq").cast("int"))
        .withColumn("dose", dosage["dose"])
        .withColumn("dose_unit", dosage["dose_unit"])
        .withColumn("dose_frequency", dosage["dose_frequency"])
        .drop("drugname", "drug_seq")
    )


def _silver_reactions(raw: DataFrame) -> DataFrame:
    return (
        raw.withColumn("reaction_pt", F.initcap(F.trim("pt")))
        .withColumn("reaction_category", reaction_category("pt"))
        .withColumn("reaction_severity", reaction_severity("pt"))
        .drop("pt")
    )


def _silver_outcomes(raw: DataFrame) -> DataFrame:
    return raw.withColumn(
        "outcome_desc", outcome_description("outc_cod")
    ).withColumn("outcome_severity", outcome_severity("outc_cod"))


def _silver_indications(raw: DataFrame) -> DataFrame:
    """Therapeutic-area + severity categorization
    (``src/silver/silver_indications.py:36-117``)."""
    return (
        raw.withColumn("indication_pt", F.initcap(F.trim("indi_pt")))
        .withColumn("therapeutic_area", therapeutic_area("indi_pt"))
        .withColumn("indication_severity", indication_severity("indi_pt"))
        .withColumn("indi_drug_seq_num", F.col("indi_drug_seq").cast("int"))
        .drop("indi_pt", "indi_drug_seq")
    )


def _silver_reports(raw: DataFrame) -> DataFrame:
    """Reporter source decode + reliability scoring
    (``src/silver/silver_reports.py:37-74``)."""
    return (
        raw.withColumn(
            "reporter_source_desc", decode_ladder("rpsr_cod", REPORT_SOURCE_DECODE)
        )
        .withColumn("reporter_category", reporter_category("rpsr_cod"))
        .withColumn(
            "reporter_reliability_score", reporter_reliability_score("rpsr_cod")
        )
        .withColumn("regulatory_priority", regulatory_priority("rpsr_cod"))
    )


def _silver_therapy_dates(raw: DataFrame) -> DataFrame:
    """Date standardization + duration semantics
    (``src/silver/silver_therapy_dates.py:39-122``; uses the real FAERS
    duration codes — the reference's fact-layer "DAY" branch never fired)."""
    start = standardize_date("start_dt")
    end = standardize_date("end_dt")
    return (
        raw.withColumn("therapy_start_date", start)
        .withColumn("therapy_end_date", end)
        .withColumn("drug_seq_num", F.col("dsg_drug_seq").cast("int"))
        .withColumn(
            "duration_description", decode_ladder("dur_cod", DURATION_UNIT_DECODE)
        )
        .withColumn(
            "therapy_duration_days_observed",
            F.datediff(F.col("therapy_end_date"), F.col("therapy_start_date")),
        )
        .withColumn(
            "reported_duration_days",
            F.round(therapy_duration_days("dur", "dur_cod"), 2),
        )
        .withColumn(
            "therapy_status",
            therapy_status("therapy_start_date", "therapy_end_date"),
        )
        .withColumn(
            "duration_category", duration_category("therapy_duration_days_observed")
        )
        .drop("start_dt", "end_dt", "dsg_drug_seq", "dur")
    )


DIM_DRUG_KEYS = ["drug_name"]
DIM_DRUG_TRACKED = ["role_desc", "route_category"]


def gold_dim_drug(spark: SparkSession, effective_date: str) -> None:
    """SCD2-maintained drug dimension off silver.drug_details.

    Every SCD2 dim hands its tie-break order to ``scd2_table_apply``, whose
    merge runs the one dedupe (``operators.scd2.one_per_key``); the
    order-only ``drug_seq_num`` is dropped after that pick."""
    src = spark.table("silver.drug_details").select(
        "drug_name", "role_desc", "route_category", "drug_seq_num"
    )
    scd2_table_apply(
        spark, "gold.dim_drug", src, DIM_DRUG_KEYS, DIM_DRUG_TRACKED,
        effective_date, order_cols=["drug_seq_num", "role_desc", "route_category"],
    )


def gold_dim_patient(spark: SparkSession, effective_date: str) -> None:
    """Patient demographics SCD2 dim (``src/gold/dims/dim_patient.py:39-151``;
    keys (primary_id, case_id), tracked demographic + derived flags)."""
    demo = spark.table("silver.demographics").select(
        "primary_id",
        "case_id",
        "age_years",
        "age_group",
        "sex_desc",
        "weight_kg",
        "reporter_region",
        (F.col("age_years") < 18).alias("is_pediatric"),
        (F.col("age_years") >= 65).alias("is_elderly"),
        F.col("weight_kg").isNotNull().alias("has_weight_data"),
    )
    scd2_table_apply(
        spark,
        "gold.dim_patient",
        demo,
        ["primary_id", "case_id"],
        [
            "age_years", "age_group", "sex_desc", "weight_kg",
            "reporter_region", "is_pediatric", "is_elderly", "has_weight_data",
        ],
        effective_date,
        order_cols=["age_years", "sex_desc", "weight_kg"],
    )


def gold_dim_reaction(spark: SparkSession, effective_date: str) -> None:
    """Reaction SCD2 dim (``dim_reaction.py:41-174``; keys
    (primary_id, case_id, reaction_pt))."""
    rx = spark.table("silver.reactions").select(
        "primary_id",
        "case_id",
        "reaction_pt",
        "reaction_category",
        "reaction_severity",
        F.col("drug_rec_act").alias("drug_action_code"),
        F.upper("reaction_pt").contains("DEATH").alias("is_fatal_reaction"),
    )
    rx = rx.withColumn(
        "regulatory_flag",
        F.when(F.col("is_fatal_reaction"), "Expedited Reporting Required")
        .when(
            F.col("reaction_severity").isin("Fatal", "Severe", "Serious"),
            "Serious Adverse Event",
        )
        .otherwise("Routine Monitoring"),
    )
    scd2_table_apply(
        spark,
        "gold.dim_reaction",
        rx,
        ["primary_id", "case_id", "reaction_pt"],
        [
            "reaction_category", "reaction_severity", "drug_action_code",
            "is_fatal_reaction", "regulatory_flag",
        ],
        effective_date,
        order_cols=["reaction_category", "drug_action_code"],
    )


def gold_dim_outcome(spark: SparkSession, effective_date: str) -> None:
    """Outcome SCD2 dim (``dim_outcome.py:41-223``; keys
    (primary_id, case_id, outc_cod))."""
    oc = spark.table("silver.outcomes").select(
        "primary_id",
        "case_id",
        F.col("outc_cod").alias("outcome_code"),
        "outcome_desc",
        "outcome_severity",
        (F.col("outc_cod") == "DE").alias("is_fatal_outcome"),
        (F.col("outc_cod") == "LT").alias("is_life_threatening"),
        F.col("outc_cod").isin("DE", "LT", "HO", "DS", "CA").alias(
            "serious_adverse_event"
        ),
    )
    oc = oc.withColumn(
        "reporting_requirement",
        F.when(F.col("is_fatal_outcome"), "Critical - Immediate Report")
        .when(
            F.col("is_life_threatening")
            | F.col("outcome_code").isin("HO", "DS", "CA"),
            "High - 15 Day Report",
        )
        .otherwise("Medium - Standard Report"),
    ).withColumn(
        "severity_tier",
        F.when(F.col("outcome_severity") >= 6, "High")
        .when(F.col("outcome_severity").between(4, 5), "Medium")
        .when(F.col("outcome_severity").between(2, 3), "Low")
        .otherwise("Minimal"),
    )
    scd2_table_apply(
        spark,
        "gold.dim_outcome",
        oc,
        ["primary_id", "case_id", "outcome_code"],
        [
            "outcome_desc", "outcome_severity", "is_fatal_outcome",
            "is_life_threatening", "serious_adverse_event",
            "reporting_requirement", "severity_tier",
        ],
        effective_date,
        order_cols=["outcome_severity"],
    )


def gold_dim_indication(spark: SparkSession, effective_date: str) -> None:
    """Indication SCD2 dim (``dim_indication.py:41-206``; keys
    (primary_id, case_id, indication_pt))."""
    ind = spark.table("silver.indications").select(
        "primary_id",
        "case_id",
        "indication_pt",
        "therapeutic_area",
        "indication_severity",
        (F.col("therapeutic_area") == "Oncology").alias("is_oncology_indication"),
        (F.col("therapeutic_area") == "Psychiatry").alias("is_psychiatric_condition"),
    )
    ind = ind.withColumn(
        "severity_score",
        F.when(F.col("indication_severity") == "Severe", 5)
        .when(F.col("indication_severity") == "Moderate", 3)
        .when(F.col("indication_severity") == "Mild", 1)
        .otherwise(0),
    ).withColumn(
        "review_pathway",
        F.when(F.col("is_oncology_indication"), "Oncology - Special Review")
        .when(F.col("is_psychiatric_condition"), "CNS - Enhanced Monitoring")
        .when(
            F.col("therapeutic_area") == "Infectious Diseases",
            "Anti-Infective - Resistance Monitoring",
        )
        .otherwise("Standard Review"),
    )
    scd2_table_apply(
        spark,
        "gold.dim_indication",
        ind,
        ["primary_id", "case_id", "indication_pt"],
        [
            "therapeutic_area", "indication_severity", "is_oncology_indication",
            "is_psychiatric_condition", "severity_score", "review_pathway",
        ],
        effective_date,
        order_cols=["therapeutic_area"],
    )


def gold_dim_therapy(spark: SparkSession, effective_date: str) -> None:
    """Therapy SCD2 dim (``dim_therapy.py:41-212``; keys
    (primary_id, case_id, drug_seq_num))."""
    th = spark.table("silver.therapy_dates").select(
        "primary_id",
        "case_id",
        "drug_seq_num",
        "therapy_start_date",
        "therapy_end_date",
        "therapy_duration_days_observed",
        "reported_duration_days",
        "therapy_status",
        "duration_category",
    )
    th = th.withColumn(
        "data_completeness",
        F.when(
            F.col("therapy_start_date").isNotNull()
            & F.col("therapy_end_date").isNotNull()
            & F.col("reported_duration_days").isNotNull(),
            "High",
        )
        .when(
            F.col("therapy_start_date").isNotNull()
            | F.col("reported_duration_days").isNotNull(),
            "Medium",
        )
        .otherwise("Low"),
    )
    scd2_table_apply(
        spark,
        "gold.dim_therapy",
        th,
        ["primary_id", "case_id", "drug_seq_num"],
        [
            "therapy_start_date", "therapy_end_date",
            "therapy_duration_days_observed", "reported_duration_days",
            "therapy_status", "duration_category", "data_completeness",
        ],
        effective_date,
        order_cols=["therapy_start_date", "therapy_end_date"],
    )


def gold_dim_report(spark: SparkSession, effective_date: str) -> None:
    """Report-source SCD2 dim (``dim_report.py:41-137``; keys
    (primary_id, case_id))."""
    rp = spark.table("silver.reports").select(
        "primary_id",
        "case_id",
        F.col("rpsr_cod").alias("reporter_source_code"),
        "reporter_source_desc",
        "reporter_category",
        "reporter_reliability_score",
        "regulatory_priority",
    )
    rp = rp.withColumn(
        "report_quality_tier",
        F.when(
            F.col("reporter_reliability_score") >= 4, "Tier 1 - High Reliability"
        )
        .when(
            F.col("reporter_reliability_score") == 3,
            "Tier 2 - Moderate Reliability",
        )
        .otherwise("Tier 3 - Low Reliability"),
    )
    scd2_table_apply(
        spark,
        "gold.dim_report",
        rp,
        ["primary_id", "case_id"],
        [
            "reporter_source_code", "reporter_source_desc", "reporter_category",
            "reporter_reliability_score", "regulatory_priority",
            "report_quality_tier",
        ],
        effective_date,
        order_cols=["reporter_reliability_score"],
    )


def gold_dim_date(spark: SparkSession) -> None:
    build_date_dim(spark).write.mode("overwrite").saveAsTable("gold.dim_date")


def gold_fact_adverse_events(spark: SparkSession) -> None:
    """Fact at drug×reaction grain per report, with worst-outcome rollup.

    7-table parity (``src/gold/facts/fact_adverse_events.py:68-187``):
    reactions ⋈ drugs ⋈ demographics fix the grain; indications and therapy
    attach per (report, drug_seq); reports and the worst-outcome rollup
    attach per report. Unlike the reference — whose outcome/report left
    joins silently multiply the grain when a report has several outcome
    rows — every one-side here is pre-aggregated or deterministically
    deduplicated, so the fact stays exactly drug×reaction (§2.10 fix)."""
    demo = spark.table("silver.demographics")
    drugs = spark.table("silver.drug_details")
    reactions = spark.table("silver.reactions")
    outcomes = spark.table("silver.outcomes")
    indications = one_per_key(
        spark.table("silver.indications").withColumnRenamed(
            "indi_drug_seq_num", "drug_seq_num"
        ),
        ["primary_id", "case_id", "drug_seq_num"],
        ["indication_pt"],
    ).select(
        "primary_id", "case_id", "drug_seq_num", "indication_pt",
        "therapeutic_area",
    )
    therapy = one_per_key(
        spark.table("silver.therapy_dates"),
        ["primary_id", "case_id", "drug_seq_num"],
        ["therapy_start_date", "therapy_end_date"],
    ).select(
        "primary_id", "case_id", "drug_seq_num",
        "therapy_duration_days_observed", "reported_duration_days",
        "therapy_status",
    )
    reports = one_per_key(
        spark.table("silver.reports"),
        ["primary_id", "case_id"],
        ["reporter_reliability_score"],
    ).select(
        "primary_id", "case_id", "reporter_source_desc",
        "reporter_reliability_score", "regulatory_priority",
    )
    # J7 ×3 parity (fact_adverse_events.py:150-187): the date dimension joins
    # three times — event, report, and FDA-received dates — each a broadcast
    # equi-join on a different aliased projection of the same bounded dim.
    dd = spark.table("gold.dim_date")
    event_dd = dd.select(
        F.col("date_key").alias("event_date_key"),
        F.col("date_value").alias("_event_dv"),
    )
    report_dd = dd.select(
        F.col("date_key").alias("report_date_key"),
        F.col("date_value").alias("_report_dv"),
        F.col("year_quarter").alias("report_year_quarter"),
    )
    fda_dd = dd.select(
        F.col("date_key").alias("fda_date_key"),
        F.col("date_value").alias("_fda_dv"),
        F.col("reporting_period").alias("fda_reporting_period"),
    )
    worst = outcomes.groupBy("primary_id", "case_id").agg(
        F.max("outcome_severity").alias("worst_outcome_severity")
    )
    fact = (
        reactions.join(drugs, ["primary_id", "case_id"], "inner")
        .join(demo, ["primary_id", "case_id"], "inner")
        # Per-report sides (indications/therapy/worst/reports) scale WITH the
        # fact — no forced broadcast; AQE picks broadcast at small volumes
        # and they all co-partition on (primary_id, case_id) at scale.
        .join(indications, ["primary_id", "case_id", "drug_seq_num"], "left")
        .join(therapy, ["primary_id", "case_id", "drug_seq_num"], "left")
        .join(worst, ["primary_id", "case_id"], "left")
        .join(reports, ["primary_id", "case_id"], "left")
        .join(
            F.broadcast(event_dd),
            F.col("event_date") == F.col("_event_dv"),
            "left",
        )
        .join(
            F.broadcast(report_dd),
            F.col("report_date") == F.col("_report_dv"),
            "left",
        )
        .join(
            F.broadcast(fda_dd),
            F.col("fda_date") == F.col("_fda_dv"),
            "left",
        )
        .select(
            "primary_id",
            "case_id",
            "drug_name",
            "drug_seq_num",
            "role_desc",
            "route_category",
            "reaction_pt",
            "reaction_category",
            "reaction_severity",
            "event_date",
            "event_date_key",
            "report_date",
            "report_date_key",
            "report_year_quarter",
            "fda_date",
            "fda_date_key",
            "fda_reporting_period",
            "age_years",
            "age_group",
            "sex_desc",
            "weight_kg",
            "reporter_region",
            F.coalesce(F.col("indication_pt"), F.lit("Unknown")).alias(
                "indication_pt"
            ),
            F.coalesce(F.col("therapeutic_area"), F.lit("Unknown")).alias(
                "therapeutic_area"
            ),
            F.coalesce(
                F.col("therapy_duration_days_observed").cast("double"),
                F.col("reported_duration_days"),
            ).alias("therapy_duration_days"),
            F.coalesce(F.col("therapy_status"), F.lit("Unknown")).alias(
                "therapy_status"
            ),
            F.coalesce(F.col("reporter_source_desc"), F.lit("Unspecified")).alias(
                "reporter_source_desc"
            ),
            F.coalesce(F.col("reporter_reliability_score"), F.lit(1)).alias(
                "reporter_reliability_score"
            ),
            F.coalesce(F.col("regulatory_priority"), F.lit("Standard")).alias(
                "regulatory_priority"
            ),
            F.coalesce(F.col("worst_outcome_severity"), F.lit(0)).alias(
                "worst_outcome_severity"
            ),
            # serious = worst outcome in {DE, LT, CA, DS, HO} — the
            # reference's expedited_reporting_required set
            # (dim_outcome.py:83-86), i.e. rank >= 3 under the reference
            # severity ladder. (The reference's broader
            # serious_adverse_event flag at dim_outcome.py:89 is true for
            # EVERY known code including RI/OT; this column deliberately
            # tracks the narrower expedited-reporting set.)
            (F.coalesce(F.col("worst_outcome_severity"), F.lit(0)) >= 3).alias(
                "is_serious"
            ),
            # Data-quality tier off the optional-side joins
            # (fact_adverse_events.py:268-281 parity).
            F.when(
                F.col("indication_pt").isNotNull()
                & F.col("therapy_status").isNotNull()
                & F.col("reporter_source_desc").isNotNull(),
                "Complete",
            )
            .when(
                F.col("indication_pt").isNotNull()
                | F.col("therapy_status").isNotNull()
                | F.col("reporter_source_desc").isNotNull(),
                "Partial",
            )
            .otherwise("Minimal")
            .alias("data_quality_tier"),
        )
    )
    fact.write.mode("overwrite").partitionBy("reporter_region").option(
        "overwriteSchema", "true"
    ).saveAsTable("gold.fact_adverse_events")


#: extract → (its silver transform, its SCD2 dim task, that dim's builder).
SOURCES = {
    "demographics": (_silver_demographics, "dim_patient", gold_dim_patient),
    "drug_details": (_silver_drug_details, "dim_drug", gold_dim_drug),
    "reactions": (_silver_reactions, "dim_reaction", gold_dim_reaction),
    "outcomes": (_silver_outcomes, "dim_outcome", gold_dim_outcome),
    "indications": (_silver_indications, "dim_indication", gold_dim_indication),
    "reports": (_silver_reports, "dim_report", gold_dim_report),
    "therapy_dates": (_silver_therapy_dates, "dim_therapy", gold_dim_therapy),
}


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
    exception: BaseException | None = None  # original, for chaining


def pipeline_tasks(
    sources: dict[str, str],
    ingest_ts: str,
    effective_date: str,
    optimize: bool = False,
) -> list[Task]:
    """The reference's Jobs DAG (``resources/jobs/faers_pipeline.yml:24-203``)
    as a task list in run order: bronze per extract; ``dim_date``; silver
    per extract; then per extract its optional ``optimize_silver_<x>``
    (compaction + ANALYZE, the reference's OPTIMIZE-after-write; a leaf,
    so it never gates the fact) and its SCD2 dim; the fact last.

    ``sources`` maps extract → CSV path, any subset of ``BRONZE_COLUMNS``.
    The fact reads all seven silver tables and ``dim_date`` has no other
    reader, so both are scheduled only on a full-source run: a
    partial-source refresh builds just its own branches."""
    unknown = sorted(set(sources) - set(BRONZE_COLUMNS))
    if unknown:
        raise ValueError(
            f"unknown sources {unknown}; expected any of {list(BRONZE_COLUMNS)}"
        )
    full = set(sources) == set(BRONZE_COLUMNS)
    tasks = [
        Task(
            f"bronze_{name}",
            partial(bronze_ingest, name=name, src_path=path, ingest_ts=ingest_ts),
        )
        for name, path in sources.items()
    ]
    if full:
        tasks.append(Task("dim_date", gold_dim_date))
    for name in sources:
        tasks.append(
            Task(
                f"silver_{name}",
                partial(silver_table, name=name, processed_ts=ingest_ts),
                (f"bronze_{name}",),
            )
        )
    for name in sources:
        after_silver = (f"silver_{name}",)
        if optimize:
            tasks.append(
                Task(
                    f"optimize_silver_{name}",
                    partial(compact_table, table=f"silver.{name}"),
                    after_silver,
                )
            )
        _, dim, build = SOURCES[name]
        tasks.append(
            Task(dim, partial(build, effective_date=effective_date), after_silver)
        )
    if full:
        tasks.append(
            Task(
                "fact_adverse_events",
                gold_fact_adverse_events,
                (*[f"silver_{name}" for name in sources], "dim_date"),
            )
        )
    return tasks


def run_tasks(spark: SparkSession, tasks: list[Task]) -> dict[str, TaskResult]:
    """Run ``tasks`` in list order, isolating failures: a task runs only
    if every dependency ended ``ok``, else it is ``skipped`` with the
    first such dependency in ``blocked_by``; independent branches keep
    running (the reference scheduler's semantics). Each dependency must
    name an earlier task, checked before anything runs.

    Tasks run one at a time on the driver: on a shared SparkSession the
    parallelism lives inside each job, so concurrent tasks would add
    scheduler contention, not throughput."""
    seen: set[str] = set()
    for t in tasks:
        late = [d for d in t.depends_on if d not in seen]
        if late:
            raise ValueError(
                f"task {t.name!r} depends on {late}, which do not run before it"
            )
        seen.add(t.name)
    results: dict[str, TaskResult] = {}
    for t in tasks:
        bad = next((d for d in t.depends_on if results[d].status != "ok"), None)
        if bad is not None:
            results[t.name] = TaskResult("skipped", blocked_by=bad)
            continue
        t0 = time.time()
        try:
            t.fn(spark)
            results[t.name] = TaskResult("ok", round(time.time() - t0, 3))
        except Exception as e:  # noqa: BLE001 — isolation is the point
            results[t.name] = TaskResult(
                "failed", round(time.time() - t0, 3), error=repr(e), exception=e
            )
    return results


def run_pipeline(
    spark: SparkSession,
    sources: dict[str, str],
    ingest_ts: str,
    effective_date: str,
    optimize: bool = False,
) -> dict[str, TaskResult]:
    """One incremental run: bronze append → silver rebuild → gold merge
    (``pipeline_tasks``), with per-task failure isolation. Raises if any
    task failed, after every runnable branch has finished, and returns
    the per-task results otherwise."""
    tasks = pipeline_tasks(sources, ingest_ts, effective_date, optimize)
    ensure_schemas(spark)
    results = run_tasks(spark, tasks)
    failed = {n: r for n, r in results.items() if r.status == "failed"}
    if failed:
        detail = "; ".join(f"{n}: {r.error}" for n, r in failed.items())
        skipped = [n for n, r in results.items() if r.status == "skipped"]
        first = next(iter(failed.values()))
        # chain the first original exception so callers keep the real
        # Spark-side type and stack trace
        raise RuntimeError(
            f"pipeline tasks failed: {detail} (skipped downstream: {skipped})"
        ) from first.exception
    return results
