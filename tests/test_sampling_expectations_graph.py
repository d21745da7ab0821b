"""Distributed prefix sum / systematic weighted sampling, the
expectations engine, and triangle counting."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.expectations import (
    audit,
    audit_oracle_sql,
    quarantine,
)
from faers_datalakehouse_spark.operators.graph import (
    triangle_counts,
    triangle_oracle_sql,
)
from faers_datalakehouse_spark.operators.sampling import (
    prefix_sum,
    systematic_sample,
)


# ---------------------------------------------------------------- sampling


def test_prefix_sum_matches_sequential(spark):
    df = spark.range(1, 501).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("w")
    )
    got = {
        r["id"]: r["running_total"]
        for r in prefix_sum(df, "id", "w", bucket_size=64).collect()
    }
    acc, want = 0, {}
    for i in range(1, 501):
        acc += i % 7 + 1
        want[i] = acc
    assert got == want


def test_prefix_sum_partitioning_invariant(spark):
    df = spark.range(1, 301).select(F.col("id"), F.lit(3).alias("w"))
    a = prefix_sum(df.repartition(13), "id", "w", bucket_size=32).collect()
    b = prefix_sum(df.coalesce(1), "id", "w", bucket_size=32).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_prefix_sum_sparse_keys(spark):
    # non-dense keys: empty buckets must contribute zero offset
    df = spark.createDataFrame(
        [(10, 1), (5000, 2), (90000, 3)], "id long, w long"
    )
    got = {
        r["id"]: r["running_total"]
        for r in prefix_sum(df, "id", "w", bucket_size=100).collect()
    }
    assert got == {10: 1, 5000: 3, 90000: 6}


def test_systematic_sample_selection_rule(spark):
    """Selection matches the sequential definition and the expected-size
    bound; heavy rows (w >= step) are always selected."""
    rows = [(i, (i * 13) % 11 + 1) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "id long, w long")
    step = 17
    got = {
        r["id"] for r in systematic_sample(df, "w", step, "id").collect()
    }
    acc, want = 0, set()
    for i, w in rows:
        prev, acc = acc, acc + w
        if acc // step > prev // step:
            want.add(i)
    assert got == want
    heavy = spark.createDataFrame(
        [(1, 1), (2, 40), (3, 1)], "id long, w long"
    )
    assert 2 in {
        r["id"] for r in systematic_sample(heavy, "w", 17, "id").collect()
    }


def test_systematic_sample_phase_and_validation(spark):
    df = spark.createDataFrame([(1, 5), (2, 5)], "id long, w long")
    with pytest.raises(ValueError, match="step"):
        systematic_sample(df, "w", 0, "id")
    with pytest.raises(ValueError, match="phase"):
        systematic_sample(df, "w", 10, "id", phase=10)
    # phase shifts the selection grid: with step 10, phase 0 picks the
    # row whose interval crosses 10 (id=2); phase 3's grid is {3, 13, ...}
    # — 3 lands in id=1's interval (0,5], 13 misses id=2's (5,10]
    assert {r["id"] for r in systematic_sample(df, "w", 10, "id").collect()} == {2}
    assert {
        r["id"]
        for r in systematic_sample(df, "w", 10, "id", phase=3).collect()
    } == {1}


def test_prefix_sum_no_global_window(spark):
    """The plan must not contain a single-partition global window — the
    whole point of the two-phase scan."""
    df = spark.range(1, 1001).select(F.col("id"), F.lit(1).alias("w"))
    plan = prefix_sum(df, "id", "w")._jdf.queryExecution().executedPlan().toString()
    # the only SinglePartition exchange allowed is for the tiny bucket-
    # totals frame; the row-level window partitions by _bucket
    assert "Window [sum" in plan or "Window" in plan
    assert plan.count("SinglePartition") <= 1


# ------------------------------------------------------------ expectations


def _orders_rules():
    return {
        "price_positive": "o_totalprice > 0",
        "date_present": "o_orderdate IS NOT NULL",
        "priority_domain": (
            "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',"
            "'4-NOT SPECIFIED','5-LOW')"
        ),
        "price_under_200k": "o_totalprice < 200000",
    }


def test_audit_counts_match_oracle(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = [
        (r["rule"], r["n_rows"], r["n_violations"], r["pass_milli"])
        for r in audit(orders, _orders_rules()).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    want = con.execute(audit_oracle_sql(_orders_rules(), "orders")).fetchall()
    assert got == [tuple(r) for r in want]
    # the deliberately-tight rule has real violations at every sf
    by_rule = {r[0]: r[2] for r in got}
    assert by_rule["price_under_200k"] > 0
    assert by_rule["price_positive"] == 0


def test_audit_null_counts_as_violation(spark):
    df = spark.createDataFrame([(1,), (None,)], "v int")
    got = {r["rule"]: r["n_violations"] for r in audit(df, {"pos": "v > 0"}).collect()}
    assert got == {"pos": 1}


def test_rule_names_must_be_identifiers(spark):
    """Rule names are interpolated into stack() pairs / aliases / oracle
    SQL; non-identifier names must be rejected BEFORE any interpolation
    (ADVICE r7: a quote or space in a name could break or inject into the
    generated query)."""
    df = spark.createDataFrame([(1,)], "v int")
    for bad in ("has space", "quo'te", "semi;colon", "", "1leading_digit"):
        with pytest.raises(ValueError, match="must match"):
            audit(df, {bad: "v > 0"})


def test_quarantine_split(spark):
    df = spark.createDataFrame(
        [(1, "x"), (-1, "x"), (2, None)], "v int, s string"
    )
    rules = {"pos": "v > 0", "s_present": "s IS NOT NULL"}
    clean, dirty = quarantine(df, rules)
    assert {r["v"] for r in clean.collect()} == {1}
    tags = {r["v"]: r["failed_rules"] for r in dirty.collect()}
    assert tags == {-1: "pos", 2: "s_present"}


def test_audit_single_scan(spark, sf_dir):
    """All rules fold into ONE aggregate over one scan of the input."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = (
        audit(orders, _orders_rules())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2


# ----------------------------------------------------------------- graph


def test_triangle_counts_known_graph(spark):
    # K4 on {1,2,3,4} plus a pendant edge (4,5): each K4 vertex is in
    # C(3,2)=3 triangles; 5 is in none
    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)],
        "src long, dst long",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_direction_and_dupes_ignored(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)],
        "src long, dst long",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_match_oracle(spark, sf_dir):
    """Co-purchase graph (parts sharing an order) vs the DuckDB a<b<c
    enumeration — identical per-node counts."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    got = [
        (r["node"], r["n_triangles"])
        for r in triangle_counts(edges).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    edges_sql = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey"
    )
    want = con.execute(triangle_oracle_sql(edges_sql)).fetchall()
    assert got == [tuple(r) for r in want]
    assert len(got) > 0  # the graph genuinely has triangles


def test_bfs_known_graph(spark):
    from faers_datalakehouse_spark.operators.graph import bfs_distances

    # 1 -> 2 -> 3 -> 4, 1 -> 3, 5 -> 1 (5 unreachable from 1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 1)], ["src", "dst"]
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1], max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_bfs_max_hops_truncates(spark):
    from faers_datalakehouse_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1], max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # node 4 is beyond max_hops


def test_bfs_multi_source_takes_min(spark):
    from faers_datalakehouse_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 3)], ["src", "dst"]
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1, 9], max_hops=3).collect()
    }
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}  # 3 via 9, not via 1->2->3


def test_basket_pairs_known_counts(spark):
    from faers_datalakehouse_spark.operators.basket import basket_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "c"), (4, "c"),  # duplicate line collapses
    ]
    df = spark.createDataFrame(rows, ["basket_id", "item"])
    out = basket_pairs(df, top_n=10).collect()
    got = {(r.item_a, r.item_b): (r.pair_count, r.lift_milli) for r in out}
    # (a,b) in baskets 1,2,3; n_baskets=4, cnt_a=3, cnt_b=3
    assert got[("a", "b")] == (3, (3 * 4 * 1000) // 9)
    assert got[("a", "c")][0] == 1 and got[("b", "c")][0] == 1
    assert out[0].item_a == "a" and out[0].item_b == "b"  # top by support


def test_basket_pairs_top_n_deterministic(spark):
    from faers_datalakehouse_spark.operators.basket import basket_pairs

    rows = [(1, "a"), (1, "b"), (1, "c"), (1, "d")]
    df = spark.createDataFrame(rows, ["basket_id", "item"])
    out = [(r.item_a, r.item_b) for r in basket_pairs(df, top_n=3).collect()]
    # all six pairs tie at count 1 -> lexicographic tiebreak
    assert out == [("a", "b"), ("a", "c"), ("a", "d")]
