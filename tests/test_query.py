"""Differential tests: query operators vs the reference engine
(pandas) — the reference's pivot is ``pd.pivot_table``
(main.pyc:158-174); we must match its semantics exactly."""

import pandas as pd
import pytest

from parquet_editor_spark.operators import query as q


@pytest.mark.parametrize("aggfunc", ["mean", "sum", "count", "max", "min"])
def test_pivot_matches_pandas(lineitem, aggfunc):
    got = (
        q.pivot_table(lineitem, "l_returnflag", "l_linestatus", "l_extendedprice", aggfunc)
        .toPandas()
        .set_index("l_returnflag")
    )
    pdf = lineitem.toPandas()
    want = pd.pivot_table(
        pdf, index="l_returnflag", columns="l_linestatus",
        values="l_extendedprice", aggfunc=aggfunc,
    )
    assert list(got.index) == list(want.index)
    assert sorted(got.columns) == sorted(want.columns)
    for c in want.columns:
        pd.testing.assert_series_equal(
            got[c].astype(float), want[c].astype(float),
            check_names=False, rtol=1e-9,
        )


def test_pivot_drops_null_group_keys(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "a", None, "b"], "c": ["x", "y", "x", None], "v": [1.0, 2.0, 3.0, 4.0]}
    )
    df = spark.createDataFrame(pdf)
    got = q.pivot_table(df, "k", "c", "v", "sum").toPandas().set_index("k")
    want = pd.pivot_table(pdf, index="k", columns="c", values="v", aggfunc="sum")
    assert list(got.index) == list(want.index)
    # pandas drops the all-NaN 'b' row only with dropna on columns; both
    # must agree that null keys contribute to no group
    assert set(got.columns) == set(want.columns)


def test_pivot_rejects_unknown_aggfunc(lineitem):
    with pytest.raises(ValueError, match="unsupported aggfunc"):
        q.pivot_table(lineitem, "l_returnflag", "l_linestatus", "l_quantity", "median")


def test_group_agg(lineitem):
    got = q.group_agg(
        lineitem,
        ["l_returnflag"],
        [("l_quantity", "sum", "sum_qty"), ("l_orderkey", "count_distinct", "n_orders")],
    ).toPandas().set_index("l_returnflag").sort_index()
    pdf = lineitem.toPandas()
    want_sum = pdf.groupby("l_returnflag")["l_quantity"].sum()
    want_n = pdf.groupby("l_returnflag")["l_orderkey"].nunique()
    assert got["sum_qty"].to_dict() == pytest.approx(want_sum.to_dict())
    assert got["n_orders"].to_dict() == want_n.to_dict()


def test_top_k_plans_take_ordered(lineitem):
    df = q.top_k(lineitem, ["l_extendedprice"], 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) == 5
    prices = [r["l_extendedprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_numeric_projection(lineitem):
    cols = q.numeric_columns(lineitem)
    assert "l_quantity" in cols and "l_returnflag" not in cols
    assert q.select_numeric(lineitem).columns == cols


def test_histogram_counts(lineitem):
    h = q.histogram(lineitem, "l_quantity", 10.0).toPandas()
    assert h["n"].sum() == lineitem.count()


def test_broadcast_join_plan(spark, sf_dir, lineitem):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = q.join_tables(lineitem, part, lineitem.l_partkey == part.p_partkey, broadcast_right=True)
    assert "BroadcastHashJoin" in j._jdf.queryExecution().executedPlan().toString()


def test_semi_anti_join(spark, sf_dir):
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    have = q.semi_join(customer, orders, customer.c_custkey == orders.o_custkey).count()
    none = q.anti_join(customer, orders, customer.c_custkey == orders.o_custkey).count()
    assert have + none == customer.count()
    assert set(
        q.semi_join(customer, orders, customer.c_custkey == orders.o_custkey).columns
    ) == set(customer.columns)


def test_fill_drop_replace_nulls(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, None, "AIR"), (2, 0.1, "RAIL"), (3, None, None)],
        "id long, v double, mode string",
    )
    filled = q.fill_nulls(df, {"v": -1.0}).orderBy("id").collect()
    assert [r["v"] for r in filled] == [-1.0, 0.1, -1.0]
    kept = q.drop_nulls(df, subset=["v"]).collect()
    assert [r["id"] for r in kept] == [2]
    assert q.drop_nulls(df, how="all").count() == 3
    rec = q.replace_values(df, {"AIR": "AIRFREIGHT"}, subset=["mode"])
    assert sorted(r["mode"] for r in rec.collect() if r["mode"]) == [
        "AIRFREIGHT", "RAIL"]


def test_intersect_except_semantics(spark):
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(1,), (3,), (4,)], "k long")
    assert sorted(r["k"] for r in q.intersect_tables(a, b).collect()) == [1, 3]
    assert sorted(r["k"] for r in q.except_tables(a, b).collect()) == [2]
    # EXCEPT ALL preserves multiplicity: one of the two 1s survives
    assert sorted(
        r["k"] for r in q.except_tables(a, b, keep_duplicates=True).collect()
    ) == [1, 2]


def test_funnel_conversion_window(spark):
    from pyspark.sql import functions as F

    rows = [
        # u1: signup then purchase inside 7d → converted
        (1, "2024-01-01 00:00:00", "signup"),
        (1, "2024-01-03 00:00:00", "purchase"),
        # u2: purchase BEFORE signup only → not converted
        (2, "2024-01-05 00:00:00", "purchase"),
        (2, "2024-01-06 00:00:00", "signup"),
        # u3: purchase exactly 7d after signup (inclusive bound) → converted
        (3, "2024-01-01 00:00:00", "signup"),
        (3, "2024-01-08 00:00:00", "purchase"),
        # u4: purchase 7d + 1s after → outside window
        (4, "2024-01-01 00:00:00", "signup"),
        (4, "2024-01-08 00:00:01", "purchase"),
        # u5: purchase only, never signed up → not in funnel
        (5, "2024-01-02 00:00:00", "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, ts, et) for u, ts, et in rows], "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    row = q.funnel(df, "user_id", "ts", "event_type", "signup", "purchase").collect()[0]
    assert (row["n_entered"], row["n_converted"]) == (4, 2)
    assert row["conv_pct"] == 50.0


def test_zscore_outliers_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    vals = np.round(
        np.concatenate([rng.uniform(1, 10, 200), [500.0, 600.0]]), 2
    )
    grp = ["g1"] * 101 + ["g2"] * 101
    pdf = pd.DataFrame(
        {"id": range(202), "g": grp, "v": vals}
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["id"]: r["z"]
        for r in q.zscore_outliers(df, "g", "v", ["id"], k=3.0).collect()
    }
    want = {}
    for g, sub in pdf.groupby("g"):
        vc = np.round(sub["v"] * 100).astype("int64")
        m, sd = vc.mean(), vc.std(ddof=1)
        for i, x in zip(sub["id"], vc):
            if sd > 0 and abs(x - m) > 3.0 * sd:
                want[i] = round((x - m) / sd, 4)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_zscore_outliers_constant_group_yields_none(spark):
    df = spark.createDataFrame(
        [(i, "g", 5.0) for i in range(10)], "id long, g string, v double"
    )
    assert q.zscore_outliers(df, "g", "v", ["id"]).count() == 0


def test_group_sample_topk_exact_counts_and_determinism(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, g string")
    out1 = q.group_sample_topk(df, "g", "id", k=5)
    got1 = sorted((r["g"], r["id"]) for r in out1.collect())
    # exactly 5 per group
    from collections import Counter

    c = Counter(g for g, _ in got1)
    assert c == {"g0": 5, "g1": 5, "g2": 5}
    # deterministic across a repartition
    out2 = q.group_sample_topk(df.repartition(7), "g", "id", k=5)
    assert sorted((r["g"], r["id"]) for r in out2.collect()) == got1
    # small group: returns all of it
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "id long, g string")
    assert q.group_sample_topk(tiny, "g", "id", k=10).count() == 2


def test_null_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)], "k long, s string"
    )
    got = {
        r["column_name"]: (r["n_rows"], r["n_null"], r["null_frac"], r["n_distinct"])
        for r in q.null_profile(df, ["k", "s"]).collect()
    }
    assert got["k"] == (4, 0, 0.0, 4)
    assert got["s"] == (4, 2, 0.5, 1)


def test_salted_join_rejects_right_and_full(spark):
    l = spark.createDataFrame([(1, "a")], "k long, v string")
    r = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    with pytest.raises(ValueError, match="duplicated once per salt"):
        q.salted_join(l, r, "k", how="full")
    assert q.salted_join(l, r, "k", how="inner").count() == 1


def test_hash_split_boundaries_not_truncated(spark):
    """int(0.58*100)==57: thresholds must round, not truncate."""
    df = spark.createDataFrame([(i,) for i in range(4000)], "id long")
    out = q.hash_split(df, "id", train=0.58, val=0.2, method="portable")
    frac = out.filter("split = 'train'").count() / 4000
    assert abs(frac - 0.58) < 0.03  # with truncation it centers on 0.57


def test_pivot_round_handles_dotted_pivot_values(spark):
    df = spark.createDataFrame(
        [("a", 1.5, 10.0), ("a", 2.5, 20.0), ("b", 1.5, 30.0)],
        "g string, rate double, amount double",
    )
    out = q.pivot_table(df, "g", "rate", "amount", "sum", round_to=2)
    cols = set(out.columns)
    assert {"1.5", "2.5"} <= cols
    got = {r["g"]: (r["1.5"], r["2.5"]) for r in out.collect()}
    assert got["a"] == (10.0, 20.0)
    assert got["b"] == (30.0, None)


def test_pivot_first_known_values_matches_discovered(spark):
    """A when-guarded first() would take the null a non-matching row
    feeds it (a/y came out null); both paths must agree."""
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
        "k string, c string, v long",
    )
    known = q.pivot_table(df, "k", "c", "v", "first", pivot_values=["x", "y"])
    found = q.pivot_table(df, "k", "c", "v", "first")
    assert known.collect() == found.collect()
    assert [tuple(r) for r in known.collect()] == [("a", 1, 2), ("b", 3, None)]


def test_corr_matrix_constant_column_yields_null(spark):
    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, c double"
    )
    rows = q.corr_matrix_exact(df, ["x", "c"]).collect()
    assert rows[0]["corr"] is None  # pandas NaN analog, not ANSI crash


def test_rolling_spikes_flags_injected_spike(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        v = 10.0 + (i % 5) * 0.5           # calm series
        if i == 55:
            v = 500.0                       # the spike
        rows.append((i, "g", base + datetime.timedelta(minutes=i), v))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = q.rolling_spikes(
        df, "event_type", "ts", "event_id", "value", window_rows=50, k=3.0
    ).collect()
    assert [r["event_id"] for r in out] == [55]
    assert out[0]["z"] > 3.0


def test_rolling_spikes_frame_excludes_self_and_warmup(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    # constant series: nothing may fire, including the huge first rows
    # (n<10 warm-up must be skipped, and the self-exclusion means a
    # constant window has zero stddev -> filtered)
    rows = [
        (i, "g", base + datetime.timedelta(minutes=i), 7.0) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    assert (
        q.rolling_spikes(
            df, "event_type", "ts", "event_id", "value"
        ).count()
        == 0
    )


def test_session_table_boundaries_and_duration(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1, 10, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        (1, base, 1), (1, base + 10 * m, 2),            # session 1 (10 min)
        (1, base + 60 * m, 3),                           # gap > 30 min → s2
        (2, base, 4),                                    # other user
    ]
    df = spark.createDataFrame(
        [(u, t, i) for u, t, i in rows],
        "user_id long, ts timestamp, event_id long",
    )
    got = {
        (r["user_id"], r["session_id"]): (
            r["n_events"],
            r["duration_us"],
        )
        for r in q.session_table(df, "user_id", "ts", "event_id").collect()
    }
    assert got == {
        (1, 1): (2, 600_000_000),
        (1, 2): (1, 0),
        (2, 1): (1, 0),
    }


def test_rolling_spikes_min_periods_validated(spark):
    """ADVICE r4: window_rows below the warm-up floor is an error, not a
    silent always-empty result; the floor is now a parameter."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, "g", base + datetime.timedelta(minutes=i), 7.0 + (i % 2) * 0.5)
        for i in range(8)
    ] + [(8, "g", base + datetime.timedelta(minutes=8), 700.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="min_periods"):
        q.rolling_spikes(df, "event_type", "ts", "event_id", "value",
                         window_rows=5)
    # lowering the floor lets a short series flag its spike
    out = q.rolling_spikes(df, "event_type", "ts", "event_id", "value",
                           window_rows=5, min_periods=5)
    assert [r["event_id"] for r in out.collect()] == [8]
