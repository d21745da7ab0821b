"""FAERS domain transform tests (decode maps, unit conversions, regex
categorization) — closes the reference's untested silver/gold domain logic."""

from __future__ import annotations

from faers_datalakehouse_spark.functions.faers import (
    age_in_years,
    country_region,
    outcome_description,
    outcome_severity,
    reaction_category,
    reaction_severity,
    route_category,
    therapy_duration_days,
    weight_in_kg,
)


def test_outcome_decode_and_severity(spark):
    """Pins reference-identical strings and ladder order
    (silver_outcomes.py:37-61): DE > LT > CA > DS > HO > RI > OT.
    The r1-r9 deviation (HO=5, CA=3, shortened strings) was closed in
    r10 — a report whose worst outcomes are {HO, CA} must roll up to
    CA, exactly as the reference computes it."""
    df = spark.createDataFrame(
        [("DE",), ("LT",), ("CA",), ("DS",), ("HO",), ("RI",), ("OT",),
         ("??",), (None,)],
        ["c"],
    )
    out = df.select(
        outcome_description("c").alias("d"), outcome_severity("c").alias("s")
    ).collect()
    assert [(r["d"], r["s"]) for r in out] == [
        ("Death", 7),
        ("Life-threatening", 6),
        ("Congenital anomaly", 5),
        ("Disability", 4),
        ("Hospitalization - initial or prolonged", 3),
        ("Required intervention to prevent permanent impairment/damage", 2),
        ("Other serious (important medical events)", 1),
        ("Unknown", 0),
        ("Unknown", 0),
    ]


def test_age_in_years(spark):
    df = spark.createDataFrame(
        [("45", "YR"), ("24", "MON"), ("52", "WK"), ("730", "DY"),
         ("5", "DEC"), ("40", None), ("bad", "YR")],
        ["age", "age_cod"],
    )
    got = [r[0] for r in df.select(age_in_years("age", "age_cod")).collect()]
    assert got == [45.0, 2.0, 1.0, 2.0, 50.0, 40.0, None]


def test_weight_in_kg(spark):
    df = spark.createDataFrame(
        [("70", "KG"), ("154", "LBS"), ("70000", "GMS"), ("80", None)],
        ["wt", "wt_cod"],
    )
    got = [round(r[0], 2) for r in df.select(weight_in_kg("wt", "wt_cod")).collect()]
    assert got == [70.0, 69.85, 70.0, 80.0]


def test_therapy_duration_days_uses_real_faers_codes(spark):
    df = spark.createDataFrame(
        [("2", "YR"), ("3", "MON"), ("2", "WK"), ("5", "DY"), ("48", "HR")],
        ["dur", "dur_cod"],
    )
    got = [r[0] for r in df.select(therapy_duration_days("dur", "dur_cod")).collect()]
    # the "DY" branch must fire (the reference's fact decode dead-branched it)
    assert got == [730.0, 90.0, 14.0, 5.0, 2.0]


def test_route_category(spark):
    df = spark.createDataFrame(
        [("ORAL",), ("Intravenous (bolus)",), ("IV",), ("INTRAMUSCULAR",),
         ("SUBCUTANEOUS",), ("TRANSDERMAL PATCH",), ("weird",), ("",), (None,)],
        ["r"],
    )
    got = [r[0] for r in df.select(route_category("r")).collect()]
    assert got == [
        "Oral", "Intravenous", "Intravenous", "Intramuscular",
        "Subcutaneous", "Topical", "Other", "Unknown", "Unknown",
    ]


def test_reaction_category_and_severity(spark):
    df = spark.createDataFrame(
        [("CARDIAC ARREST",), ("MALIGNANT NEOPLASM",), ("ACUTE KIDNEY INJURY",),
         ("SEVERE RASH",), ("NAUSEA",), ("DEATH",), ("HEADACHE",)],
        ["pt"],
    )
    got = [
        (r["c"], r["s"])
        for r in df.select(
            reaction_category("pt").alias("c"), reaction_severity("pt").alias("s")
        ).collect()
    ]
    assert got == [
        ("Cardiac", "Unspecified"),
        ("Oncology", "Unspecified"),
        ("Renal", "Unspecified"),
        ("Dermatological", "Severe"),
        ("Gastrointestinal", "Unspecified"),
        ("Fatal", "Fatal"),
        ("Other", "Unspecified"),
    ]


def test_country_region(spark):
    df = spark.createDataFrame([("US",), ("gb",), ("JP",), ("BR",), ("ZZ",)], ["c"])
    got = [r[0] for r in df.select(country_region("c")).collect()]
    assert got == [
        "North America", "Europe", "Asia-Pacific", "Latin America", "Other/Unknown"
    ]
