"""Known-value unit tests for the round-11 statistics/curation
operators (ANOVA F, Wilcoxon signed-rank, Cox-Stuart, McNemar,
Jonckheere-Terpstra, CvM drift, Friedman, binary-segmentation
changepoint, HHI concentration, Flesch-Kincaid readability)."""

from __future__ import annotations

import math


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------- anova_f ----------


def test_anova_f_separated_means(spark):
    from faers_datalakehouse_spark.operators.grouptests import (
        anova_f_by_group,
    )

    rows = (
        [("g", v, 0) for v in (10, 11, 12)]
        + [("g", v, 1) for v in (20, 21, 22)]
        + [("g", v, 2) for v in (30, 31, 32)]
    )
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = anova_f_by_group(df, "grp", "v", "cohort", [0, 1, 2]).collect()[0]
    # SSB = 600, SSW = 6, F = (600/2)/(6/6) = 300
    assert got["n"] == 9 and got["f_milli"] == 300_000


def test_anova_f_equal_means_zero(spark):
    from faers_datalakehouse_spark.operators.grouptests import (
        anova_f_by_group,
    )

    rows = [("g", v, c) for c in (0, 1, 2) for v in (1, 2, 3)]
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = anova_f_by_group(df, "grp", "v", "cohort", [0, 1, 2]).collect()[0]
    assert got["f_milli"] == 0


def test_anova_f_constant_values_null(spark):
    from faers_datalakehouse_spark.operators.grouptests import (
        anova_f_by_group,
    )

    rows = [("g", 5, c) for c in (0, 1, 2) for _ in range(2)]
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = anova_f_by_group(df, "grp", "v", "cohort", [0, 1, 2]).collect()[0]
    assert got["f_milli"] is None


# ---------- wilcoxon_signed_rank ----------


def test_wilcoxon_all_positive_shifts(spark):
    """y_{t+7} = y_t + t + 1: all 5 diffs positive and distinct ->
    W+ = 15 (max), z = (15 - 7.5)/sqrt(13.75)."""
    from faers_datalakehouse_spark.operators.pairedtests import (
        wilcoxon_signed_rank_by_series,
    )

    rows = []
    for t in range(5):
        rows.append(("s", t, 10))
        rows.append(("s", t + 7, 10 + t + 1))
    df = _df(spark, rows, "series string, x long, y long")
    got = wilcoxon_signed_rank_by_series(
        df, "series", "x", "y"
    ).collect()[0]
    assert got["n_pairs"] == 5
    assert got["w2_plus"] == 30  # doubled 1+2+3+4+5
    z = (15 - 5 * 6 / 4) / math.sqrt(5 * 6 * 11 / 24)
    assert got["z_milli"] == math.floor(z * 1000)


def test_wilcoxon_symmetric_is_zeroish(spark):
    """Diffs +d and -d with equal |d| ranks -> W+ = half the rank sum,
    z = 0."""
    from faers_datalakehouse_spark.operators.pairedtests import (
        wilcoxon_signed_rank_by_series,
    )

    rows = []
    # pairs at x=0..3: diffs +1, -1, +2, -2
    diffs = [1, -1, 2, -2]
    for t, d in enumerate(diffs):
        rows.append(("s", t * 20, 10))
        rows.append(("s", t * 20 + 7, 10 + d))
    df = _df(spark, rows, "series string, x long, y long")
    got = wilcoxon_signed_rank_by_series(
        df, "series", "x", "y"
    ).collect()[0]
    assert got["n_pairs"] == 4
    # |d|=1 twice (doubled midrank 3 each), |d|=2 twice (doubled 7)
    assert got["w2_plus"] == 3 + 7
    assert got["z_milli"] == 0 or got["z_milli"] == -1  # floor at 0⁻


def test_wilcoxon_zero_diffs_dropped(spark):
    from faers_datalakehouse_spark.operators.pairedtests import (
        wilcoxon_signed_rank_by_series,
    )

    rows = [("s", 0, 5), ("s", 7, 5)]  # single zero-diff pair
    df = _df(spark, rows, "series string, x long, y long")
    assert (
        wilcoxon_signed_rank_by_series(df, "series", "x", "y").count()
        == 0
    )


# ---------- cox_stuart ----------


def test_cox_stuart_increasing(spark):
    """y strictly increasing over 7 days: c=4, 3 pairs all positive,
    z = 3/sqrt(3)."""
    from faers_datalakehouse_spark.operators.pairedtests import (
        cox_stuart_by_series,
    )

    rows = [("s", x, x * x) for x in range(7)]
    df = _df(spark, rows, "series string, x long, y long")
    got = cox_stuart_by_series(df, "series", "x", "y").collect()[0]
    assert got["n_days"] == 7
    assert got["n_pos"] == 3 and got["n_neg"] == 0
    assert got["z_milli"] == math.floor(3 / math.sqrt(3) * 1000)


def test_cox_stuart_flat_is_null(spark):
    from faers_datalakehouse_spark.operators.pairedtests import (
        cox_stuart_by_series,
    )

    rows = [("s", x, 9) for x in range(6)]
    df = _df(spark, rows, "series string, x long, y long")
    got = cox_stuart_by_series(df, "series", "x", "y").collect()[0]
    assert got["n_pos"] == 0 and got["n_neg"] == 0
    assert got["z_milli"] is None


# ---------- mcnemar_switching ----------


def test_mcnemar_counts_transitions(spark):
    """User 1 active days {0,1}, user 2 active {0}, user 3 active {1,2}
    (single type): maxx=2, minx=0.
    stops: (u1,1) day2 missing -> stop; (u1,0) has day1 -> no;
           (u2,0) day1 missing -> stop; (u3,1) has 2 -> no; (u3,2)=maxx.
    starts: (u1,1) has day0 -> no; (u3,1) day0 missing -> start;
            (u3,2) has day1 -> no; days at minx excluded.
    """
    from faers_datalakehouse_spark.operators.pairedtests import (
        mcnemar_switching_from_acts,
    )

    rows = []
    for uid, days in ((1, [0, 1]), (2, [0]), (3, [1, 2])):
        rows.extend(("click", uid, d) for d in days)
    acts = _df(spark, rows, "event_type string, user_id long, x long")
    got = mcnemar_switching_from_acts(acts).collect()[0]
    assert got["n_stop"] == 2 and got["n_start"] == 1
    assert got["chi2_milli"] == math.floor((2 - 1) ** 2 * 1000 / 3)


# ---------- jonckheere_trend ----------


def test_jonckheere_perfect_order(spark):
    """Cohort values strictly ordered 0<1<2: J = n0*n1 + n0*n2 + n1*n2
    (max), z > 0 and matches the closed form."""
    from faers_datalakehouse_spark.operators.ordtests import (
        jonckheere_by_group,
    )

    rows = (
        [("g", v, 0) for v in (1, 2)]
        + [("g", v, 1) for v in (10, 11)]
        + [("g", v, 2) for v in (20, 21)]
    )
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = jonckheere_by_group(df, "grp", "v", "cohort", [0, 1, 2]).collect()[
        0
    ]
    n = 6
    j = 12  # 4 + 4 + 4
    e = (n * n - 3 * 4) / 4
    var = (n * n * (2 * n + 3) - 3 * (4 * (2 * 2 + 3))) / 72
    z = (j - e) / math.sqrt(var)
    assert got["n"] == 6
    assert got["z_milli"] == math.floor(z * 1000)


def test_jonckheere_all_tied_zeroish(spark):
    """All values equal: every pairwise comparison is a tie, J = n0n1/2
    + ... = E[J], z = 0."""
    from faers_datalakehouse_spark.operators.ordtests import (
        jonckheere_by_group,
    )

    rows = [("g", 7, c) for c in (0, 1, 2) for _ in range(3)]
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = jonckheere_by_group(df, "grp", "v", "cohort", [0, 1, 2]).collect()[
        0
    ]
    assert got["z_milli"] == 0


# ---------- cvm_drift ----------


def test_cvm_identical_distributions_zero(spark):
    from faers_datalakehouse_spark.operators.ordtests import (
        cvm_drift_by_group,
    )

    rows = [("g", v, c) for c in (0, 1) for v in (1, 2, 3, 4)]
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = cvm_drift_by_group(df, "grp", "v", "cohort", 0, 1).collect()[0]
    assert got["psi_micro"] == 0


def test_cvm_disjoint_distributions_large(spark):
    """Cohort a all below cohort b: gap = 1 at every a-point.
    values 1..4 (a), 11..14 (b): d_milli=250,500,750,1000 at a-points
    then 750,500,250,0 at b-points; psi = Σ d²/8."""
    from faers_datalakehouse_spark.operators.ordtests import (
        cvm_drift_by_group,
    )

    rows = [("g", v, 0) for v in (1, 2, 3, 4)] + [
        ("g", v, 1) for v in (11, 12, 13, 14)
    ]
    df = _df(spark, rows, "grp string, v long, cohort int")
    got = cvm_drift_by_group(df, "grp", "v", "cohort", 0, 1).collect()[0]
    expect = (
        250**2 + 500**2 + 750**2 + 1000**2 + 750**2 + 500**2 + 250**2
    ) // 8
    assert got["psi_micro"] == expect


# ---------- friedman_test ----------


def test_friedman_consistent_weekday_effect(spark):
    """Two complete blocks where y = dow in both weeks: within-block
    ranks are 1..7 identically -> maximal Q = b*k(k-1)... compute the
    closed form: R_j = 2j, Q = 12/(2*7*8)*Σ(2j)² - 3*2*8."""
    from faers_datalakehouse_spark.operators.blocktests import (
        friedman_by_series,
    )

    rows = [("s", 7 * w + d, d) for w in range(2) for d in range(7)]
    df = _df(spark, rows, "series string, x long, y long")
    got = friedman_by_series(df, "series", "x", "y").collect()[0]
    q = 12.0 / (2 * 7 * 8) * sum((2.0 * (j + 1)) ** 2 for j in range(7)) - 3 * 2 * 8
    assert got["n_blocks"] == 2
    assert got["q_milli"] == math.floor(q * 1000)


def test_friedman_incomplete_blocks_excluded(spark):
    from faers_datalakehouse_spark.operators.blocktests import (
        friedman_by_series,
    )

    # one complete week + a dangling 3-day week -> only 1 block -> NULL
    rows = [("s", d, d) for d in range(7)] + [
        ("s", 7 + d, d) for d in range(3)
    ]
    df = _df(spark, rows, "series string, x long, y long")
    got = friedman_by_series(df, "series", "x", "y").collect()[0]
    assert got["n_blocks"] == 1 and got["q_milli"] is None


# ---------- binseg_changepoint ----------


def test_binseg_step_series_finds_break(spark):
    """10 at days 0-4, 20 at days 5-9: split at day 4, gain = 1."""
    from faers_datalakehouse_spark.operators.binseg import (
        binseg_changepoint_by_series,
    )

    rows = [("s", x, 10) for x in range(5)] + [
        ("s", x, 20) for x in range(5, 10)
    ]
    df = _df(spark, rows, "series string, x long, y long")
    got = binseg_changepoint_by_series(df, "series", "x", "y").collect()[0]
    assert got["split_x"] == 4 and got["gain_milli"] == 1000


def test_binseg_constant_series_null_gain(spark):
    from faers_datalakehouse_spark.operators.binseg import (
        binseg_changepoint_by_series,
    )

    rows = [("s", x, 5) for x in range(6)]
    df = _df(spark, rows, "series string, x long, y long")
    got = binseg_changepoint_by_series(df, "series", "x", "y").collect()[0]
    assert got["gain_milli"] is None
    assert got["split_x"] == 0  # deterministic min-x tie-break


def test_binseg_single_day_row(spark):
    from faers_datalakehouse_spark.operators.binseg import (
        binseg_changepoint_by_series,
    )

    df = _df(spark, [("s", 3, 9)], "series string, x long, y long")
    got = binseg_changepoint_by_series(df, "series", "x", "y").collect()[0]
    assert got["n_days"] == 1 and got["split_x"] is None


# ---------- hhi_concentration ----------


def test_hhi_monopoly_and_uniform(spark):
    from faers_datalakehouse_spark.operators.concentration import (
        hhi_by_group,
    )

    rows = [("mono", "a", i) for i in range(4)] + [
        ("unif", m, i) for i in range(2) for m in ("a", "b", "c", "d")
    ]
    df = _df(spark, rows, "grp string, member string, i long")
    got = {r["grp"]: r for r in hhi_by_group(df, "grp", "member").collect()}
    assert got["mono"]["hhi_micro"] == 1_000_000
    assert got["mono"]["nhhi_milli"] is None  # single member
    assert got["unif"]["hhi_micro"] == 250_000  # 4 * (1/4)²
    assert got["unif"]["nhhi_milli"] == 0


# ---------- readability_fk ----------


def test_readability_counts_and_grade(spark):
    """'The cat sat. It ran!' -> words 6, sentences 2, syllables:
    vowel groups e,a,a,i,a = 5... count: the(1) cat(1) sat(1) it(1)
    ran(1) = 5 + 0 vowel-less words; FK from totals."""
    from faers_datalakehouse_spark.functions.readability import (
        readability_fk_by_source,
    )

    df = _df(
        spark,
        [("s1", "The cat sat. It ran!"), ("s1", "hmm...")],
        "source string, text string",
    )
    got = readability_fk_by_source(df).collect()[0]
    # doc2: 'hmm' is 1 word, 0 vowel groups, 1 vowel-less word -> 1 syl
    assert got["n_docs"] == 2
    assert got["words"] == 6 and got["sentences"] == 3
    assert got["syllables"] == 6
    fk = 0.39 * 6 / 3 + 11.8 * 6 / 6 - 15.59
    assert got["fk_milli"] == math.floor(fk * 1000)


def test_readability_excludes_wordless_docs(spark):
    from faers_datalakehouse_spark.functions.readability import (
        readability_fk_by_source,
    )

    df = _df(
        spark,
        [("s1", "123 456 !!!"), ("s2", "a b c.")],
        "source string, text string",
    )
    rows = {r["source"]: r for r in readability_fk_by_source(df).collect()}
    assert "s1" not in rows
    assert rows["s2"]["words"] == 3
