"""Column-expression transform library (silver-layer semantics).

Pure ``Column -> Column`` builders — no actions, no UDFs — so every transform
stays inside Catalyst/whole-stage-codegen and composes into a single projected
scan regardless of how many are applied. This mirrors the reference's
deliberate all-built-in style (its ``src/utils/silver_transformations.py``)
while fixing its known defects (see SURVEY.md §2.10).

Semantics reproduced (reference file:line):

- ``standardize_date``   — FAERS partial dates: 8-digit ``yyyyMMdd``, 6-digit
  ``yyyyMM`` → first of month, 4-digit ``yyyy`` → Jan 1, anything else NULL
  (``src/utils/silver_transformations.py:48-71``).
- ``guarded_double``     — regex-guarded numeric cast, invalid → NULL
  (``silver_transformations.py:74-87``).
- ``age_group``          — Pediatric/Adult/Elderly/Unknown bucketing
  (``silver_transformations.py:90-102``).
- ``standardize_name``   — upper(trim(strip-punctuation))
  (``silver_transformations.py:114-125``).
- ``parse_dosage``       — amount/unit/frequency extraction from free text
  (``silver_transformations.py:128-157``).
- ``decode_ladder``      — the dominant reference pattern: a chained
  ``when``/``otherwise`` code→description decode (60+ instances, e.g.
  ``src/silver/silver_outcomes.py:37-71``), built from a mapping as one
  SQL ``CASE``.
- ``bucketize``          — ordered range bucketing (e.g. clinical-risk tiers,
  ``src/gold/facts/fact_adverse_events.py:288-295``), one SQL ``CASE``.
- ``row_hash`` / ``surrogate_key`` — md5-of-concat change-detection hash and
  business-key surrogate (``src/utils/scd_type2.py:54-89``).

The two ladders are SQL text parsed once by ``F.expr``: a Column-API
``when`` chain costs a few Python→JVM round trips per node, a parsed
expression one parse for the whole ladder.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

NUMERIC_RE = r"^[0-9]+\.?[0-9]*$"


def standardize_date(col: Column | str) -> Column:
    """FAERS partial-date string → DATE (invalid → NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    # try_to_date: digit-shaped but invalid dates (e.g. "20231345") must
    # yield NULL, not an ANSI parse error.
    return (
        F.when(c.rlike(r"^\d{8}$"), F.try_to_date(c, "yyyyMMdd"))
        .when(c.rlike(r"^\d{6}$"), F.try_to_date(F.concat(c, F.lit("01")), "yyyyMMdd"))
        .when(
            c.rlike(r"^\d{4}$"), F.try_to_date(F.concat(c, F.lit("0101")), "yyyyMMdd")
        )
        .otherwise(F.lit(None).cast("date"))
    )


def guarded_double(col: Column | str) -> Column:
    """Numeric-string → DOUBLE iff it matches ``^[0-9]+\\.?[0-9]*$``, else NULL."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    return F.when(c.rlike(NUMERIC_RE), c.cast("double")).otherwise(
        F.lit(None).cast("double")
    )


def age_group(age: Column | str) -> Column:
    """Pediatric (0-17) / Adult (18-64) / Elderly (65+) / Unknown."""
    c = F.col(age) if isinstance(age, str) else age
    return (
        F.when(c.isNull() | F.isnan(c.cast("double")), F.lit("Unknown"))
        .when(c < 18, F.lit("Pediatric (0-17)"))
        .when(c < 65, F.lit("Adult (18-64)"))
        .otherwise(F.lit("Elderly (65+)"))
    )


def standardize_name(col: Column | str) -> Column:
    """Canonical entity name: strip punctuation, trim, uppercase."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(F.regexp_replace(c, r"[^\w\s]", "")))


def parse_dosage(col: Column | str) -> dict[str, Column]:
    """Free-text dosage → {dose: DOUBLE, dose_unit, dose_frequency}.

    ``"10 mg, TWICE DAILY"`` → (10.0, "MG", "TWICE DAILY"); non-matching text
    yields NULL dose and empty-string unit/frequency, matching the reference
    fixtures (FIXTURES.md §A5).
    """
    c = F.col(col) if isinstance(col, str) else col
    # \d*\.?\d+ also matches '.5' — the old \d+\.?\d* skipped a
    # leading decimal point and parsed '.5 mg' as dose 5.0 (a silent 10x)
    num = F.regexp_extract(c, r"(\d*\.?\d+)", 1)
    return {
        "dose": F.when(num != "", num.cast("double")).otherwise(
            F.lit(None).cast("double")
        ),
        "dose_unit": F.upper(F.regexp_extract(c, r"\d*\.?\d+\s+(\w+)", 1)),
        "dose_frequency": F.upper(F.trim(F.regexp_extract(c, r",\s*(.+)$", 1))),
    }


def sql_literal(value: str | int | float) -> str:
    """Spark SQL text of a Python literal: strings single-quoted with ``\\``
    and ``'`` backslash-escaped, floats with the ``D`` suffix so ``10000.0``
    stays DOUBLE instead of parsing as DECIMAL."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, float):
        return f"{float(value)!r}D"
    if isinstance(value, int):
        return str(value)
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def decode_ladder_sql(
    col: str, mapping: Mapping[str, str], default: str = "Unknown"
) -> str:
    """SQL text of :func:`decode_ladder`, for ``selectExpr`` projections."""
    if not mapping:
        return sql_literal(default)
    whens = " ".join(
        f"WHEN ({col}) = {sql_literal(code)} THEN {sql_literal(desc)}"
        for code, desc in mapping.items()
    )
    return f"CASE {whens} ELSE {sql_literal(default)} END"


def decode_ladder(
    col: str, mapping: Mapping[str, str], default: str = "Unknown"
) -> Column:
    """Code → description decode: ``CASE WHEN (col) = code THEN desc …
    ELSE default END``, parsed once by ``F.expr``.

    ``col`` is a column name or any Spark SQL expression text (e.g.
    ``"upper(reporter_country)"``); codes, descriptions and ``default`` are
    literals quoted by :func:`sql_literal`. NULL input decodes to
    ``default``; an empty mapping yields the ``default`` literal.
    """
    return F.expr(decode_ladder_sql(col, mapping, default))


def bucketize_sql(
    col: str,
    boundaries: Sequence[float],
    labels: Sequence[str],
    null_label: str = "Unknown",
) -> str:
    """SQL text of :func:`bucketize`, for ``selectExpr`` projections."""
    if len(labels) != len(boundaries) + 1:
        raise ValueError("need len(labels) == len(boundaries) + 1")
    # NaN sorts greater than every double in Spark, so without the guard
    # it landed in the TOP bucket instead of the null label
    whens = [
        f"WHEN ({col}) IS NULL OR isnan(CAST(({col}) AS DOUBLE)) "
        f"THEN {sql_literal(null_label)}"
    ]
    whens += [
        f"WHEN ({col}) < {sql_literal(b)} THEN {sql_literal(label)}"
        for b, label in zip(boundaries, labels[:-1])
    ]
    return f"CASE {' '.join(whens)} ELSE {sql_literal(labels[-1])} END"


def bucketize(
    col: str,
    boundaries: Sequence[float],
    labels: Sequence[str],
    null_label: str = "Unknown",
) -> Column:
    """Ordered range bucketing: len(labels) == len(boundaries) + 1.

    Buckets are [-inf, b0), [b0, b1), ..., [b_last, +inf); NULL and NaN
    inputs get ``null_label``. ``col`` is a column name or Spark SQL
    expression text; the result is one ``CASE`` parsed by ``F.expr``, with
    boundaries and labels quoted by :func:`sql_literal` (float boundaries
    stay DOUBLE literals).
    """
    return F.expr(bucketize_sql(col, boundaries, labels, null_label))


def _hash_input(cols: Sequence[Column | str]) -> Column:
    parts = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"), F.lit("NULL")
        )
        for c in cols
    ]
    return F.concat_ws("||", *parts)


def row_hash(tracked_cols: Sequence[Column | str]) -> Column:
    """md5 change-detection hash over tracked columns (NULL-safe)."""
    return F.md5(_hash_input(tracked_cols))


def surrogate_key(
    business_keys: Sequence[Column | str], *extra: Column
) -> Column:
    """md5 surrogate key over business keys (+ effective date for SCD2;
    streaming merges append a per-batch token so intraday versions of the
    same key never share a surrogate)."""
    cols: list[Column | str] = list(business_keys)
    cols.extend(c for c in extra if c is not None)
    return F.md5(_hash_input(cols))
