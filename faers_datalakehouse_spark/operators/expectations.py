"""Declarative data-quality expectations (DLT-expectations analog).

The reference validates inputs imperatively inside each silver job
(null screens, decode-domain checks — e.g. reference
``src/silver/silver_demographics.py`` drops rows failing its sex/age
screens); lakehouse engines have since standardized the declarative
form: a rule set ``{name: boolean SQL expr}`` attached to a dataset,
with per-rule violation metrics and a quarantine split — Delta Live
Tables ``@expect`` semantics, re-expressed on plain DataFrames.

Scale shape: the audit is ONE scan — every rule becomes a
``sum(case when not expr then 1 else 0)`` in a single global aggregate
(map-side partial, rule-count-sized result). ``quarantine`` is a
pure per-row tag and filter (scan-stage predicate, no shuffle).
Violation counts are exact integers → bit-identical DuckDB twin.
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RULE_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_rule_names(rules: Mapping[str, str]) -> None:
    """Rule names are interpolated into stack() pairs, column aliases and
    oracle SQL — restrict them to identifiers so a quote/space can't break
    or inject into the generated query."""
    for name in rules:
        if not _RULE_NAME.match(name):
            raise ValueError(
                f"rule name {name!r} must match [A-Za-z_][A-Za-z0-9_]*"
            )


def audit(df: DataFrame, rules: Mapping[str, str]) -> DataFrame:
    """Per-rule violation metrics in one scan:
    ``(rule, n_rows, n_violations, pass_milli)`` — ``pass_milli`` is the
    integer-exact pass rate in milli-units (``(n-v)*1000 div n``; 0 for
    an empty input). Rows where a rule evaluates to NULL count as
    violations (an expectation must be provably TRUE)."""
    if not rules:
        raise ValueError("audit needs at least one rule")
    _check_rule_names(rules)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, expr in rules.items():
        aggs.append(
            F.sum(
                F.when(F.expr(expr), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"_v_{name}")
        )
    row = df.agg(*aggs)
    # unpivot the 1-row wide aggregate into (rule, counts) rows — stack()
    # over a 1-row frame, no shuffle of the input
    pairs = ", ".join(
        f"'{name}', _v_{name}" for name in rules
    )
    long = row.selectExpr(
        "_n", f"stack({len(rules)}, {pairs}) as (rule, n_violations)"
    )
    return long.select(
        "rule",
        F.col("_n").cast("long").alias("n_rows"),
        F.coalesce(F.col("n_violations"), F.lit(0))
        .cast("long")
        .alias("n_violations"),
        F.when(F.col("_n") > 0, F.expr("((_n - n_violations) * 1000) div _n"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pass_milli"),
    ).orderBy("rule")


def quarantine(
    df: DataFrame, rules: Mapping[str, str]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) split — quarantined rows carry
    ``failed_rules``, the comma-joined sorted names of every rule they
    violate (flat string: driver-canonicalizable, lossless for
    identifier-safe rule names)."""
    _check_rule_names(rules)
    checks = [
        F.when(
            ~F.coalesce(F.expr(expr), F.lit(False)), F.lit(name)
        ).otherwise(F.lit(None))
        for name, expr in sorted(rules.items())
    ]
    tagged = df.withColumn(
        "failed_rules",
        F.concat_ws(
            ",", F.array_compact(F.array(*checks))
        ),
    )
    clean = tagged.filter(F.col("failed_rules") == "").drop("failed_rules")
    dirty = tagged.filter(F.col("failed_rules") != "")
    return clean, dirty


AUDIT_SQL_TEMPLATE = """
WITH wide AS (
  SELECT count(*) AS _n{violation_sums}
  FROM {table}
),
long AS (
{per_rule_selects}
)
SELECT rule,
       CAST(_n AS BIGINT) AS n_rows,
       CAST(coalesce(n_violations, 0) AS BIGINT) AS n_violations,
       CAST(CASE WHEN _n > 0
            THEN ((_n - coalesce(n_violations, 0)) * 1000) // _n
            ELSE 0 END AS BIGINT) AS pass_milli
FROM long
ORDER BY rule
"""


def audit_oracle_sql(rules: Mapping[str, str], table: str) -> str:
    """DuckDB twin of ``audit`` over ``table``. Rule exprs must be
    engine-portable SQL (the repo-wide oracle rule)."""
    _check_rule_names(rules)
    sums = "".join(
        f",\n         sum(CASE WHEN ({expr}) THEN 0 ELSE 1 END) AS _v_{name}"
        for name, expr in rules.items()
    )
    selects = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS rule, _v_{name} AS n_violations, _n FROM wide"
        for name in rules
    )
    return AUDIT_SQL_TEMPLATE.format(
        table=table, violation_sums=sums, per_rule_selects=selects
    )
