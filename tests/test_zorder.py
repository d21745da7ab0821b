"""Z-order layout: curve correctness and the pruning-stats payoff."""

from __future__ import annotations

from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import VersionedTable
from faers_datalakehouse_spark.sources.zorder import z_value


def test_z_value_interleaves_bits(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (0, 2), (3, 3)], ["x", "y"]
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", z_value(F.col("x"), F.col("y")).alias("z")).collect()
    }
    # x bits at even positions, y bits at odd
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(1, 1)] == 3
    assert got[(2, 0)] == 4
    assert got[(0, 2)] == 8
    assert got[(3, 3)] == 15


def _file_spans(spark, t: VersionedTable, col: str) -> list[int]:
    spans = []
    for f in t.snapshot().files:
        row = spark.read.parquet(str(t.root / f["path"])).agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).collect()[0]
        spans.append(int(row["hi"]) - int(row["lo"]))
    return spans


def test_zorder_layout_narrows_minmax_on_both_columns(spark, tmp_path):
    """Clustered files must cover far narrower (x, y) ranges than an
    arbitrary layout — the property row-group pruning feeds on."""
    n = 1 << 12
    # two independent coordinates in [0, 256): a 64x64-cell grid walk
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37) % 256).alias("x"),
        ((F.col("id") * 101) % 256).alias("y"),
    )
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(df.repartition(8), committed_at="t1")
    plain = {col: _file_spans(spark, t, col) for col in ("x", "y")}
    t.optimize_zorder(spark, "x", "y", n_files=8, bits=8, committed_at="t2")

    assert t.read(spark).count() == n  # lossless rewrite

    for col in ("x", "y"):
        plain_avg = sum(plain[col]) / len(plain[col])
        z_spans = _file_spans(spark, t, col)
        z_avg = sum(z_spans) / len(z_spans)
        # round-robin files span ~the full domain; z-ordered files must
        # cover a fraction of it on BOTH axes simultaneously
        assert z_avg < plain_avg * 0.6, (col, z_avg, plain_avg)


def test_z_value_sql_bits16_runs_in_duckdb():
    """Regression: bare INT32 shifts overflowed DuckDB at bits=16
    (`1 << 31` -> Out of Range); operands are now BIGINT from the start."""
    import duckdb

    from faers_datalakehouse_spark.sources.zorder import z_value_sql

    expr = z_value_sql("x", "y", bits=16)
    [(v,)] = duckdb.sql(
        f"SELECT {expr} FROM (SELECT 40000 AS x, 50000 AS y)"
    ).fetchall()
    assert v > 0


def test_bucketize_clamps_below_range(spark):
    from pyspark.sql import functions as F

    from faers_datalakehouse_spark.sources.zorder import bucketize

    df = spark.createDataFrame([(-50.0,), (5.0,), (500.0,)], "v double")
    out = df.select(
        bucketize(F.col("v"), F.lit(0.0), F.lit(100.0), bits=4).alias("b")
    ).collect()
    bs = [r["b"] for r in out]
    assert all(0 <= b <= 15 for b in bs)  # below-range used to go negative
