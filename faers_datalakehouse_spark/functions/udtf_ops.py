"""Python user-defined table functions (Spark 4 UDTF API).

A UDTF is the lateral-join primitive: one input row expands to N output
rows with their own schema — ``SELECT c.* FROM docs, LATERAL
text_chunks(doc_id, text) c``. Spark plans it like any generator
(explode-style), so the expansion distributes with the scan.

The reference workload's chunkers are SQL-expressible and stay on the
JVM path (``plans.training_prep``); this module exists for the cases a
table function genuinely needs imperative Python per row (pluggable
tokenizers, external parsers) and to keep the UDTF surface tested. The
chunker here is deliberately the SQL-twin-able one so the driver oracle
can hash-check the UDTF machinery end to end.

Determinism contract: chunk starts are ``1 + k*stride`` for
``k in [0, (len-1) div stride]`` (empty text expands to zero rows) —
exactly reproducible in DuckDB with ``generate_series``.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from ..sources.tables import read_table

CHUNK_WIDTH = 200
CHUNK_STRIDE = 150


@udtf(returnType="doc_id bigint, chunk_idx int, chunk string")
class TextChunks:
    """Overlapping fixed-width character chunks of one document."""

    def eval(self, doc_id: int, text: str):
        if not text:
            return
        n = (len(text) - 1) // CHUNK_STRIDE + 1
        for k in range(n):
            start = k * CHUNK_STRIDE
            yield doc_id, k, text[start : start + CHUNK_WIDTH]


def register_udtfs(spark) -> None:
    spark.udtf.register("text_chunks", TextChunks)


def udtf_chunks(spark, sf_dir: str):
    """Driver surface: documents laterally expanded by the UDTF."""
    register_udtfs(spark)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.chunk
        FROM _udtf_docs d, LATERAL text_chunks(d.doc_id, d.text) c
        ORDER BY c.doc_id, c.chunk_idx
        """
    )


UDTF_CHUNKS_SQL = """
SELECT d.doc_id, CAST(k AS INT) AS chunk_idx,
       substr(d.text, CAST(k * 150 + 1 AS BIGINT), 200) AS chunk
FROM documents d
JOIN LATERAL (
  SELECT unnest(generate_series(0, (length(d.text) - 1) // 150)) AS k
) g ON length(d.text) > 0
ORDER BY d.doc_id, chunk_idx
"""


@udtf
class DateParts:
    """POLYMORPHIC UDTF (Spark 4 ``analyze()`` API): output schema is
    derived at ANALYSIS time from the literal parts argument — one INT
    column per requested calendar part. This is the dynamic-schema
    table-function contract (Snowflake/BigQuery UDTF parity) that a
    static ``returnType`` cannot express: ``date_parts(ts, 'year,dow')``
    and ``date_parts(ts, 'year,month,day')`` are different relations
    from one definition.

    Supported parts: year, month, day, dow (1=Sunday..7, the Spark
    ``dayofweek`` convention), hour. The parts argument must be a
    foldable literal (enforced by Spark for analyze-time arguments).
    """

    @staticmethod
    def analyze(ts, parts):
        from pyspark.sql.types import IntegerType, StructType
        from pyspark.sql.udtf import AnalyzeResult

        wanted = [p.strip() for p in parts.value.split(",") if p.strip()]
        allowed = {"year", "month", "day", "dow", "hour"}
        bad = [p for p in wanted if p not in allowed]
        if bad or not wanted:
            raise ValueError(
                f"date_parts: unsupported parts {bad or '(empty)'}; "
                f"allowed {sorted(allowed)}"
            )
        schema = StructType()
        for p in wanted:
            schema = schema.add(p, IntegerType())
        return AnalyzeResult(schema=schema)

    def eval(self, ts, parts: str):
        if ts is None:
            return
        wanted = [p.strip() for p in parts.split(",") if p.strip()]
        # datetime.isoweekday(): Mon=1..Sun=7 -> Spark dayofweek Sun=1..Sat=7
        calc = {
            "year": lambda t: t.year,
            "month": lambda t: t.month,
            "day": lambda t: t.day,
            "dow": lambda t: t.isoweekday() % 7 + 1,
            "hour": lambda t: t.hour,
        }
        yield tuple(calc[p](ts) for p in wanted)


def udtf_dateparts_query(spark, sf_dir: str):
    """Driver surface: polymorphic expansion of event timestamps into
    (year, month, dow), aggregated to day-of-week volumes — proving the
    analyze()-derived schema flows through SQL, lateral join, and
    aggregation."""
    from ..sources.tables import read_events

    spark.udtf.register("date_parts", DateParts)
    read_events(spark, sf_dir).createOrReplaceTempView("_udtf_events")
    return spark.sql(
        """
        SELECT p.year, p.month, p.dow,
               CAST(count(*) AS BIGINT) AS n
        FROM _udtf_events e,
             LATERAL date_parts(e.ts, 'year,month,dow') p
        GROUP BY p.year, p.month, p.dow
        ORDER BY p.year, p.month, p.dow
        """
    )


UDTF_DATEPARTS_SQL = """
SELECT CAST(year(ts) AS INT) AS year,
       CAST(month(ts) AS INT) AS month,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(count(*) AS BIGINT) AS n
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY year, month, dow
"""
