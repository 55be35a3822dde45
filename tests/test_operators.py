"""Operator-level tests (beyond the oracle parity suite): statistical
sampling expectations, counters/observe, cluster utils, histogram
golden values — mirroring the reference's test strategy (SURVEY.md §5).
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from oarphpy_spark.operators.cluster import (
    cluster_cpu_count,
    for_each_executor,
    monte_carlo_pi,
    run_callables,
)
from oarphpy_spark.operators.counters import CounterCollection, observed
from oarphpy_spark.operators.histogram import df_histogram, histogram_to_numpy
from oarphpy_spark.operators.sampling import get_balanced_sample
from oarphpy_spark.operators.union import SchemaConflict, union_dfs


def test_union_dfs_merges_and_nullfills(spark):
    df1 = spark.createDataFrame([Row(a=1, b=2.0)])
    df2 = spark.createDataFrame([Row(a=3, c="foo")])
    out = union_dfs(df1, df2).orderBy("a").collect()
    assert [r.asDict() for r in out] == [
        {"a": 1, "b": 2.0, "c": None},
        {"a": 3, "b": None, "c": "foo"},
    ]


def test_union_dfs_type_conflict_raises(spark):
    df1 = spark.createDataFrame([Row(a=1)])
    df2 = spark.createDataFrame([Row(a="s")])
    with pytest.raises(SchemaConflict):
        union_dfs(df1, df2)


def test_balanced_sample_expectation(spark):
    # Reference-style statistical check (oarphpy_test/test_spark.py:265-346):
    # classes 10/100/1000 -> each class sampled to ~10, rtol 0.5 over trials.
    rows = (
        [Row(id=i, val="a") for i in range(10)]
        + [Row(id=100 + i, val="b") for i in range(100)]
        + [Row(id=1000 + i, val="c") for i in range(1000)]
    )
    df = spark.createDataFrame(rows)
    totals: Counter = Counter()
    n_trials = 5
    for seed in range(n_trials):
        got = get_balanced_sample(df, "val", seed=1337 + seed).groupBy("val").count()
        for r in got.collect():
            totals[r["val"]] += r["count"]
    for cls in ("a", "b", "c"):
        mean = totals[cls] / n_trials
        assert 10 * 0.5 <= mean <= 10 * 1.8, (cls, mean)


def test_histogram_golden(spark):
    # Reference golden (oarphpy_test/test_plotting.py:38-60): a in 0..100,
    # b = a*a -> histogram(a,2) == ([50,51],[0,50,100]);
    # histogram(b,4) == ([50,21,16,14],[0,2500,5000,7500,10000]).
    df = spark.createDataFrame([Row(a=i, b=i * i) for i in range(101)])
    counts, edges = histogram_to_numpy(df_histogram(df, "a", 2))
    assert counts == [50, 51]
    assert edges == [0.0, 50.0, 100.0]
    counts, edges = histogram_to_numpy(df_histogram(df, "b", 4))
    assert counts == [50, 21, 16, 14]
    assert edges == [0.0, 2500.0, 5000.0, 7500.0, 10000.0]


def test_histogram_degenerate_single_value(spark):
    df = spark.createDataFrame([Row(x=7.0)] * 5)
    counts, _ = histogram_to_numpy(df_histogram(df, "x", 3))
    assert counts == [5, 0, 0]


def test_counter_accumulator(spark):
    # Reference fixture (oarphpy_test/test_spark.py:176-192).
    counters = CounterCollection(spark, "test")

    def work(x):
        counters.tally("itally")
        counters.tally("my_tally", 2)
        counters.kv_tally("my_hist", str(x))
        return x

    total = spark.sparkContext.parallelize(range(10), 4).map(work).sum()
    assert total == 45
    v = counters.value
    assert v["itally"] == 10
    assert v["my_tally"] == 20
    assert all(v[f"my_hist.{k}"] == 1 for k in map(str, range(10)))


def test_observe_metrics(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    df2, obs = observed(
        df, "m", F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")
    )
    df2.write.format("noop").mode("overwrite").save()
    assert obs.get["n"] == 100
    assert obs.get["sum_v"] == 9900


def test_cluster_utils(spark):
    assert cluster_cpu_count(spark) >= 1
    results = for_each_executor(spark, lambda: 1)
    assert len(results) == cluster_cpu_count(spark)
    outs = run_callables(spark, [lambda: 1, lambda: "two", lambda: [3]])
    assert outs == [1, "two", [3]]


def test_monte_carlo_pi(spark):
    # Reference tolerance (oarphpy/spark.py:246-260): |pi - 3.14| < 0.1.
    row = monte_carlo_pi(spark, 1_000_000).collect()[0]
    assert abs(row["pi_est"] - 3.14) < 0.1


def test_histogram_properties(spark):
    """Property sweep: for varied data shapes, counts sum to row count,
    edges are monotone equal-width, and no row falls outside."""
    import random

    rnd = random.Random(7)
    for trial in range(5):
        n = rnd.randint(1, 500)
        bins = rnd.randint(1, 12)
        vals = [rnd.uniform(-1000, 1000) for _ in range(n)]
        df = spark.createDataFrame([Row(x=v) for v in vals])
        rows = sorted(df_histogram(df, "x", bins).collect(), key=lambda r: r["bucket"])
        assert len(rows) == bins
        assert sum(r["count"] for r in rows) == n
        widths = {round(r["hi"] - r["lo"], 6) for r in rows}
        assert len(widths) == 1
        assert abs(rows[0]["lo"] - min(vals)) < 1e-9
        assert abs(rows[-1]["hi"] - max(vals)) < 1e-9


def test_asof_join_carries_values(spark):
    from oarphpy_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [Row(sym="A", ts=1, px=10.0), Row(sym="A", ts=5, px=11.0),
         Row(sym="B", ts=3, px=99.0)],
        "sym string, ts long, px double",
    )
    trades = spark.createDataFrame(
        [Row(tid=1, sym="A", ts=4), Row(tid=2, sym="A", ts=5),
         Row(tid=3, sym="B", ts=2), Row(tid=4, sym="B", ts=9)],
        "tid long, sym string, ts long",
    )
    out = {r["tid"]: (r["ts_asof"], r["px_asof"]) for r in
           asof_join(trades, quotes, on="sym", right_value_cols=["px"]).collect()}
    assert out[1] == (1, 10.0)   # latest quote at or before ts=4
    assert out[2] == (5, 11.0)   # equal ts matches (>= semantics)
    assert out[3] == (None, None)  # no earlier quote
    assert out[4] == (3, 99.0)


def test_asof_join_null_right_values_not_mixed(spark):
    # A legitimately-NULL right value must stay NULL, not be backfilled
    # from an older right row (rows carry as one struct).
    from oarphpy_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [Row(sym="A", ts=1, px=10.0), Row(sym="A", ts=5, px=None)],
        "sym string, ts long, px double",
    )
    trades = spark.createDataFrame([Row(tid=1, sym="A", ts=6)], "tid long, sym string, ts long")
    r = asof_join(trades, quotes, on="sym", right_value_cols=["px"]).collect()[0]
    assert r["ts_asof"] == 5 and r["px_asof"] is None


def test_histogram_ignores_null_and_nan(spark):
    df = spark.createDataFrame(
        [Row(x=1.0), Row(x=2.0), Row(x=None), Row(x=float("nan"))],
        "x double",
    )
    counts, edges = histogram_to_numpy(df_histogram(df, "x", 2))
    assert sum(counts) == 2
    assert edges == [1.0, 1.5, 2.0]


def test_histogram_quoted_column_matches_numpy(spark):
    """``df_histogram`` is one SQL statement with the column name
    backquoted: a name with a space, a backtick and braces works, and
    NULL/NaN rows, ``min == max`` and ``num_bins=1`` give numpy's
    counts and edges with the (bucket, lo, hi, count) schema."""
    import random

    import numpy as np

    col = "unit price `usd` {x}"
    rnd = random.Random(11)
    vals = [rnd.uniform(-50, 250) for _ in range(300)]
    rows = [(v,) for v in vals] + [(None,), (float("nan"),)] * 3
    df = spark.createDataFrame(rows, f"`{col.replace('`', '``')}` double")
    for bins in (1, 7):
        h = df_histogram(df, col, bins)
        assert h.dtypes == [
            ("bucket", "bigint"), ("lo", "double"), ("hi", "double"), ("count", "bigint")
        ]
        counts, edges = histogram_to_numpy(h)
        want_counts, want_edges = np.histogram(vals, bins=bins)
        assert counts == want_counts.tolist(), bins
        assert np.allclose(edges, want_edges, rtol=0, atol=1e-9), bins

    same = spark.createDataFrame(
        [(3.5,)] * 4 + [(None,), (float("nan"),)], f"`{col.replace('`', '``')}` double"
    )
    for bins in (1, 4):
        counts, edges = histogram_to_numpy(df_histogram(same, col, bins))
        assert counts == [4] + [0] * (bins - 1)
        assert edges == [3.5] * (bins + 1)


def test_salted_broadcast_join_rejects_outer(spark):
    from oarphpy_spark.operators.skew import salted_broadcast_join

    probe = spark.range(10).select(F.col("id").alias("k"))
    build = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_broadcast_join(probe, build, "k", how="full")


def test_range_join_matches_naive(spark):
    from oarphpy_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [(1, 5), (1, 50), (1, 99), (2, 10), (2, 200)], "k long, t long"
    )
    ivs = spark.createDataFrame(
        [(1, 0, 10, "a"), (1, 40, 60, "b"), (1, 95, 105, "c"),
         (2, 0, 300, "d"), (2, 150, 160, "e")],
        "k long, lo long, hi long, name string",
    )
    got = range_join(pts, ivs, "t", "lo", "hi", on=["k"], chunk=16).collect()
    naive = pts.alias("p").join(
        ivs.alias("i"),
        (F.col("p.k") == F.col("i.k"))
        & F.col("p.t").between(F.col("i.lo"), F.col("i.hi")),
    ).collect()
    assert {(r["k"], r["t"], r["name"]) for r in got} == {
        (r["k"], r["t"], r["name"]) for r in naive
    }
    assert len(got) == len(naive)  # no duplicate pairs from chunking


def test_range_join_left_keeps_unmatched_points(spark):
    from oarphpy_spark.operators.range_join import range_join

    pts = spark.createDataFrame([(1, 5), (1, 1000)], "k long, t long")
    ivs = spark.createDataFrame([(1, 0, 10, "a")], "k long, lo long, hi long, name string")
    got = range_join(pts, ivs, "t", "lo", "hi", on=["k"], chunk=8, how="left").collect()
    by_t = {r["t"]: r["name"] for r in got}
    assert by_t == {5: "a", 1000: None}


def test_min_max_by_tiebreak_survives_huge_orderkeys(spark, tmp_path):
    """Regression: q_min_max_by once folded its tie-break as
    price_cents*1e9 + orderkey in int64, which silently corrupts the
    ordering when orderkeys cross 1e9 (TPC-H SF≈42). With orderkey
    5e9: old fold ranks the $1.00 order (100e9+5e9 = 105e9) ABOVE the
    $1.01 order (101e9+1), flipping argmin. The struct ordering must
    pick the genuinely cheapest order regardless of key magnitude."""
    from oarphpy_spark.registry import queries

    rows = [
        (1, 5_000_000_000, 1.00),   # cheapest, but huge orderkey
        (1, 1, 1.01),
        (1, 2, 2.50),
        (2, 7_000_000_000, 9.99),   # priciest for custkey 2
        (2, 3, 5.00),
    ]
    spark.createDataFrame(
        rows, "o_custkey bigint, o_orderkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path / "orders.parquet"))

    # prove the OLD encoding would have flipped the answer
    old_fold = lambda price, key: int(round(price * 100)) * 10**9 + key
    assert old_fold(1.00, 5_000_000_000) > old_fold(1.01, 1)

    got = {
        r["o_custkey"]: r
        for r in queries()["q_min_max_by"](spark, str(tmp_path)).collect()
    }
    assert got[1]["cheapest_order"] == 5_000_000_000
    assert got[1]["priciest_order"] == 2
    assert got[2]["cheapest_order"] == 3
    assert got[2]["priciest_order"] == 7_000_000_000


def test_set_similarity_join_no_false_negatives(spark):
    """Prefix filtering must return EXACTLY the brute-force Jaccard
    pairs on random token sets (the zero-false-negative guarantee that
    distinguishes it from MinHash LSH)."""
    import itertools
    import random

    from oarphpy_spark.llm.dedup import set_similarity_join

    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(40)]
    sets = {
        d: set(rng.sample(vocab, rng.randint(3, 14))) for d in range(60)
    }
    rows = [(d, t) for d, toks in sets.items() for t in toks]
    tok = spark.createDataFrame(rows, "id long, token string")
    for tau_num, tau_den in ((4, 5), (1, 2), (7, 10)):
        got = {
            (r.id_a, r.id_b): r.overlap
            for r in set_similarity_join(
                tok, tau_num=tau_num, tau_den=tau_den
            ).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            o = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if o * tau_den >= u * tau_num and o > 0:
                want[(a, b)] = o
        assert got == want, (tau_num, tau_den)


def test_set_similarity_join_degenerate_inputs(spark):
    from oarphpy_spark.llm.dedup import set_similarity_join

    # empty input -> empty output (no analysis errors)
    empty = spark.createDataFrame([], "id long, token string")
    assert set_similarity_join(empty).count() == 0
    # identical single-token docs -> jaccard 1.0 pair
    tok = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, token string"
    )
    rows = set_similarity_join(tok, tau_num=1, tau_den=1).collect()
    assert [(r.id_a, r.id_b, r.overlap, r.jaccard) for r in rows] == [
        (1, 2, 1, 1.0)
    ]


def test_pareto_frontier_matches_brute_force(spark):
    """Two-phase skyline == brute-force domination filter on random
    distinct point sets, with and without bucketing, including ties
    on each axis."""
    import random

    from oarphpy_spark.operators.skyline import pareto_frontier

    rng = random.Random(99)
    for trial in range(4):
        pts = {(rng.randrange(50), rng.randrange(50)) for _ in range(120)}
        df = spark.createDataFrame(sorted(pts), "x long, y long")
        for width in (None, 7):
            got = {
                (r.x, r.y)
                for r in pareto_frontier(df, "x", "y", width).collect()
            }
            want = {
                (x, y)
                for (x, y) in pts
                if not any(
                    qx <= x and qy >= y and (qx < x or qy > y)
                    for (qx, qy) in pts
                )
            }
            assert got == want, (trial, width)


def test_ts_gapfill_matches_python_locf(spark):
    """q_ts_gapfill's island-fill == a straightforward python LOCF
    over the same per-user hourly grid (sf0.001 fixture)."""
    from collections import defaultdict

    from oarphpy_spark import registry

    from .conftest import SF_SMALL

    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    rows = registry.queries()["q_ts_gapfill"](spark, SF_SMALL).collect()

    # python reference
    from oarphpy_spark.tables import table as _table

    ev = (
        _table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(r)
    HOUR = 3_600_000_000
    want = {}
    for u, rs in per_user.items():
        by_hour = {}
        for r in rs:
            us = int(r.ts.timestamp() * 1_000_000)
            h = us // HOUR * HOUR
            cur = by_hour.get(h)
            if cur is None or (us, r.event_id) > cur[0]:
                by_hour[h] = ((us, r.event_id), round(r.value, 4))
        h0, h1 = min(by_hour), max(by_hour)
        last = None
        h = h0
        while h <= h1:
            if h in by_hour:
                last = by_hour[h][1]
                want[(u, h)] = (last, 1)
            else:
                want[(u, h)] = (last, 0)
            h += HOUR
    got = {
        (r.user_id, r.hour_us): (r.value_filled, r.is_observed)
        for r in rows
    }
    assert got == want


def test_containment_join_no_false_negatives(spark):
    """Asymmetric prefix filtering must return EXACTLY the brute-force
    containment pairs (both directions, a != b) on random token sets,
    including subset/superset extremes."""
    import random

    from oarphpy_spark.llm.dedup import containment_join

    rng = random.Random(29)
    vocab = [f"t{i}" for i in range(40)]
    sets = {
        d: set(rng.sample(vocab, rng.randint(2, 14))) for d in range(50)
    }
    # guaranteed exact subsets: doc 100 contained in doc 101
    sets[100] = set(rng.sample(vocab, 5))
    sets[101] = sets[100] | set(rng.sample(vocab, 10))
    rows = [(d, t) for d, toks in sets.items() for t in toks]
    tok = spark.createDataFrame(rows, "id long, token string")
    for tau_num, tau_den in ((4, 5), (1, 2), (1, 1)):
        got = {
            (r.id_a, r.id_b): r.overlap
            for r in containment_join(
                tok, tau_num=tau_num, tau_den=tau_den
            ).collect()
        }
        want = {}
        for a in sets:
            for b in sets:
                if a == b:
                    continue
                o = len(sets[a] & sets[b])
                if o > 0 and o * tau_den >= len(sets[a]) * tau_num:
                    want[(a, b)] = o
        assert got == want, (tau_num, tau_den)
        if tau_num == 1 and tau_den == 1:
            assert (100, 101) in got  # the planted exact subset


def test_containment_join_degenerate_inputs(spark):
    from oarphpy_spark.llm.dedup import containment_join

    empty = spark.createDataFrame([], "id long, token string")
    assert containment_join(empty).count() == 0
    tok = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b"), (3, "c")], "id long, token string"
    )
    rows = containment_join(tok, tau_num=1, tau_den=1).collect()
    # 1's single token is fully inside 2 -> (1, 2); NOT (2, 1).
    assert [(r.id_a, r.id_b, r.overlap, r.containment) for r in rows] == [
        (1, 2, 1, 1.0)
    ]


def test_exact_ranks_matches_sorted_reference(spark):
    """Two-phase bucket-prune order statistics == sorted() picks on
    random multisets, across bucket widths (width 1 = one bucket per
    value; huge width = everything in one bucket) and with requested
    ranks landing in NON-contiguous buckets (the in-sub prefix
    arithmetic that a naive offset would get wrong)."""
    import random

    from oarphpy_spark.operators.quantiles import exact_ranks

    rng = random.Random(41)
    vals = [rng.randrange(0, 100_000) for _ in range(3000)]
    vals += [vals[0]] * 25  # heavy duplicate block crossing a rank
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    s = sorted(vals)
    n = len(vals)
    ranks = [1, 2, n // 4, n // 2, n // 2 + 1, 3 * n // 4, n]
    for width in (1, 7, 10_000, 10**9):
        got = exact_ranks(df, "x", ranks, bucket_width=width)
        assert got == {r: s[r - 1] for r in ranks}, width


def test_exact_ranks_out_of_range_raises(spark):
    import pytest as _pytest

    from oarphpy_spark.operators.quantiles import exact_ranks

    df = spark.createDataFrame([(1,), (2,)], "x long")
    with _pytest.raises(ValueError):
        exact_ranks(df, "x", [3])
