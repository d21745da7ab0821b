"""Property-based tests (hypothesis) for the transform library and SCD2 —
the invariants the reference never tested (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from faers_datalakehouse_spark.functions.transforms import (
    guarded_double,
    standardize_date,
)
from faers_datalakehouse_spark.operators.scd2 import scd2_initial_load, scd2_merge
from faers_datalakehouse_spark.operators.skew import salted_join

DATES = st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2099, 12, 31))


@settings(max_examples=5, deadline=None)
@given(st.lists(DATES, min_size=1, max_size=50))
def test_standardize_date_roundtrip(spark, dates):
    rows = [(d.strftime("%Y%m%d"),) for d in dates]
    df = spark.createDataFrame(rows, ["s"])
    got = [r[0] for r in df.select(standardize_date("s")).collect()]
    assert got == list(dates)


@settings(max_examples=5, deadline=None)
@given(st.lists(DATES, min_size=1, max_size=50))
def test_standardize_date_partial_forms(spark, dates):
    rows = [(d.strftime("%Y%m"), d.strftime("%Y")) for d in dates]
    df = spark.createDataFrame(rows, ["ym", "y"])
    got = df.select(
        standardize_date("ym").alias("m"), standardize_date("y").alias("yy")
    ).collect()
    for d, r in zip(dates, got):
        assert r["m"] == d.replace(day=1)
        assert r["yy"] == d.replace(month=1, day=1)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.from_regex(r"[0-9]{1,6}(\.[0-9]{0,4})?", fullmatch=True),
            st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
            ),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_guarded_double_matches_python(spark, strings):
    import re

    df = spark.createDataFrame([(s,) for s in strings], ["s"])
    got = [r[0] for r in df.select(guarded_double("s")).collect()]
    for s, g in zip(strings, got):
        t = s.strip()
        if re.fullmatch(r"[0-9]+\.?[0-9]*", t):
            assert g == float(t)
        else:
            assert g is None


KEYS = st.sampled_from(["k1", "k2", "k3", "k4"])
VALS = st.sampled_from(["a", "b", "c"])


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=4, unique_by=lambda t: t[0]),
        min_size=1,
        max_size=4,
    )
)
def test_scd2_invariants_over_random_batch_sequences(spark, batches):
    dim = None
    seen_keys: set[str] = set()
    current_vals: dict[str, str] = {}
    for i, batch in enumerate(batches):
        src = spark.createDataFrame(batch, ["k", "v"])
        eff = f"2024-0{i + 1}-01"
        if dim is None:
            dim = scd2_initial_load(src, ["k"], ["v"], eff)
        else:
            dim = scd2_merge(dim, src, ["k"], ["v"], eff)
        dim = dim.localCheckpoint(eager=True)  # keep the plan flat
        for k, v in batch:
            seen_keys.add(k)
            current_vals[k] = v
        rows = dim.collect()
        cur = [r for r in rows if r["is_current"]]
        # exactly one current row per key ever seen
        assert sorted(r["k"] for r in cur) == sorted(seen_keys)
        # current values reflect the latest batch that touched each key
        assert {r["k"]: r["v"] for r in cur} == current_vals
        # closed rows are exactly the non-current ones and carry end dates
        assert all(r["end_date"] is not None for r in rows if not r["is_current"])
        # idempotence: merging the same batch again changes nothing
        again = scd2_merge(dim, src, ["k"], ["v"], f"2024-0{i + 2}-01")
        assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_salted_join_equals_plain_join(spark):
    # heavily skewed: one key holds ~90% of rows
    large = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(j, 0) for j in range(2, 102)], ["k", "v"]
    )
    small = spark.createDataFrame([(k, f"d{k}") for k in range(1, 102)], ["k", "d"])
    plain = large.join(small, "k").select("k", "v", "d")
    salted = salted_join(large, small, ["k"], n_salts=8).select("k", "v", "d")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


# --- custom join operators vs brute-force oracles ---

_POINTS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=40
)
_INTERVALS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 400)),
    min_size=1,
    max_size=15,
)


@settings(max_examples=5, deadline=None)
@given(_POINTS, _INTERVALS, st.integers(1, 3))
def test_range_join_matches_naive_between(spark, points, intervals, width_pow):
    from faers_datalakehouse_spark.operators.ranges import range_join

    left = spark.createDataFrame(
        [(k, float(p), i) for i, (k, p) in enumerate(points)], ["k", "p", "lid"]
    )
    right = spark.createDataFrame(
        [(k, float(s), float(s + ln), j) for j, (k, s, ln) in enumerate(intervals)],
        ["k", "s", "e", "rid"],
    )
    got = {
        (r["lid"], r["rid"])
        for r in range_join(
            left, right, point="p", start="s", end="e", on=["k"],
            bin_width=10 ** width_pow,
        ).collect()
    }
    naive = {
        (r["lid"], r["rid"])
        for r in left.join(
            right,
            (left.k == right.k) & (left.p >= right.s) & (left.p <= right.e),
        ).collect()
    }
    assert got == naive


_EVENTS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10_000)), min_size=1, max_size=30
)
# Right side: unique (key, ts) pairs — with two right rows at the identical
# timestamp for one key, "the" matched row is ambiguous by the asof contract
# (any of the tied rows is a correct answer), so the oracle can't pin one.
_REVENTS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10_000)),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t,
)


@settings(max_examples=5, deadline=None)
@given(_EVENTS, _REVENTS)
def test_asof_join_matches_naive_argmax(spark, lrows, rrows):
    import datetime as _dt

    from faers_datalakehouse_spark.operators.asof import as_of_join

    base = _dt.datetime(2024, 1, 1)

    def ts(sec):
        return base + _dt.timedelta(seconds=sec)

    left = spark.createDataFrame(
        [(k, ts(s), i) for i, (k, s) in enumerate(lrows)], ["k", "ts", "lid"]
    )
    right = spark.createDataFrame(
        [(k, ts(s), j) for j, (k, s) in enumerate(rrows)], ["k", "ts", "rid"]
    )
    got = {
        r["lid"]: r["rid_asof"]
        for r in as_of_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", right_cols=["rid"]
        ).collect()
    }
    # Naive oracle: for each left row, the max-ts right row with ts <= left ts
    # (ties on ts broken by the LAST right row in window order rid ASC — the
    # union-window formulation keeps the latest among equal timestamps).
    rt = sorted(((k, s, j) for j, (k, s) in enumerate(rrows)),
                key=lambda x: (x[1], x[2]))
    for i, (k, s) in enumerate(lrows):
        cands = [(rs, rj) for rk, rs, rj in rt if rk == k and rs <= s]
        expect = cands[-1][1] if cands else None
        assert got[i] == expect, (i, k, s, cands)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=60_000), # minutes offset
        ),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    st.integers(min_value=1, max_value=48),             # bucket_hours
)
def test_sessionize_skew_equals_plain_for_random_events(spark, evs, bucket_hours):
    """The skew path must equal the plain path for ANY event placement and
    ANY bucket width — including widths far smaller than session gaps."""
    import datetime as dt

    from pyspark.sql.window import Window as W

    from faers_datalakehouse_spark.plans.analytics import sessionize_events_skew

    base = dt.datetime(2024, 1, 1)
    rows = [
        (f"u{u}", i, base + dt.timedelta(minutes=m), float(i % 5))
        for i, (u, m) in enumerate(evs)
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])

    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user))
    plain = (
        ev.withColumn(
            "new",
            F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_seq",
            F.sum("new").over(by_user.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    skew = sessionize_events_skew(ev, gap_minutes=30, bucket_hours=bucket_hours)
    p = sorted(
        (r["user_id"], r["session_seq"], r["n"], str(r["s"]), str(r["e"]))
        for r in plain.collect()
    )
    s = sorted(
        (r["user_id"], r["session_seq"], r["n_events"],
         str(r["session_start"]), str(r["session_end"]))
        for r in skew.collect()
    )
    assert s == p


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=8, max_size=14),  # shared run
    st.lists(st.sampled_from("pqrstuvw"), min_size=0, max_size=6),   # prefix 1
    st.lists(st.sampled_from("klmnoxyz"), min_size=0, max_size=6),   # prefix 2
)
def test_winnowing_shared_run_guarantee_random(spark, shared, pre1, pre2):
    """Random contexts around a random shared run of >= w+k-1 tokens: the
    two documents must always share a fingerprint (k=5, w=4)."""
    from faers_datalakehouse_spark.operators.substring import (
        winnowing_fingerprints,
    )

    mk = lambda toks: " ".join(f"t{c}{i % 3}" for i, c in enumerate(toks))
    shared_txt = " ".join(f"s{c}" for c in shared)
    docs = spark.createDataFrame(
        [
            (1, (mk(pre1) + " " + shared_txt).strip()),
            (2, (mk(pre2) + " " + shared_txt).strip()),
        ],
        ["doc_id", "text"],
    )
    fp = winnowing_fingerprints(docs, k=5, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fhash"])
    assert by_doc.get(1, set()) & by_doc.get(2, set())


# -- round-7 bucket machinery & interval join -------------------------------

_WEIGHTED_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),          # group
        st.integers(min_value=0, max_value=5000),  # value
        st.integers(min_value=1, max_value=900),   # weight
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(_WEIGHTED_ROWS, st.sampled_from([(1, 2), (1, 4), (9, 10), (1, 1)]))
def test_top_p_filter_equals_naive_prefix(spark, rows, p):
    """The two-phase bucket selection must equal the naive definition
    for arbitrary weights, groups, and thresholds — including ties,
    single-bucket groups, and p=1 (keep everything)."""
    from faers_datalakehouse_spark.operators.top_p import top_p_filter

    p_num, p_den = p
    data = [(g, i, w) for i, (g, _v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, id bigint, w bigint")
    got = sorted(
        (r["g"], r["id"])
        for r in top_p_filter(df, "g", "id", "w", p_num, p_den).collect()
    )
    # naive: per group ordered by (w desc, id), keep while cum_before < p*total
    import collections

    by_g = collections.defaultdict(list)
    for g, i, w in data:
        by_g[g].append((w, i))
    expect = []
    for g, items in by_g.items():
        total = sum(w for w, _ in items)
        cum = 0
        for w, i in sorted(items, key=lambda t: (-t[0], t[1])):
            if cum * p_den < p_num * total:
                expect.append((g, i))
            cum += w
    assert got == sorted(expect)


@settings(max_examples=8, deadline=None)
@given(_WEIGHTED_ROWS, st.sampled_from([(1, 2), (1, 4), (9, 10), (1, 1)]))
def test_weighted_quantile_equals_naive(spark, rows, q):
    from faers_datalakehouse_spark.operators.top_p import (
        weighted_quantile_multi,
    )

    q_num, q_den = q
    data = [(g, str(i), v, w) for i, (g, v, w) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "g string, id string, v bigint, w bigint"
    )
    got = {
        r["g"]: r["value"]
        for r in weighted_quantile_multi(
            df, "g", "id", "v", "w", [(q_num, q_den, "value")]
        ).collect()
    }
    import collections

    by_g = collections.defaultdict(list)
    for g, i, v, w in data:
        by_g[g].append((v, i, w))
    for g, items in by_g.items():
        total = sum(w for _, _, w in items)
        cum = 0
        expect = None
        for v, i, w in sorted(items, key=lambda t: (t[0], t[1])):
            cum += w
            if cum * q_den >= q_num * total:
                expect = v
                break
        assert got[g] == expect, (g, q)


_INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=-100, max_value=100),
        st.integers(min_value=0, max_value=40),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(_INTERVALS, _INTERVALS, st.sampled_from([1, 3, 7, 50]))
def test_interval_overlap_join_equals_naive(spark, lefts, rights, cell):
    from faers_datalakehouse_spark.operators.interval_join import (
        interval_overlap_join,
    )

    ldata = [(i, s, s + d) for i, (s, d) in enumerate(lefts)]
    rdata = [(i, s, s + d) for i, (s, d) in enumerate(rights)]
    left = spark.createDataFrame(ldata, "lid bigint, ls bigint, le bigint")
    right = spark.createDataFrame(rdata, "rid bigint, rs bigint, re bigint")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", cell_width=cell
        ).collect()
    )
    expect = sorted(
        (li, ri)
        for li, ls, le in ldata
        for ri, rs, re in rdata
        if ls <= re and rs <= le
    )
    assert got == expect
