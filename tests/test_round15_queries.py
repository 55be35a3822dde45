"""Round-15 regression tests: the enforced degree-cap skew contract
on exact link prediction and the
release_shared_edges live-count fix."""

from __future__ import annotations

import warnings

SF = "/root/testdata/sf0.001"


def test_lp_degree_cap_exclusions_reported(spark):
    """The exact wedge path excludes centers above _LP_DEGREE_CAP; on
    a skewed production graph that is an accuracy contract, so the
    exclusion must be OBSERVABLE: LP_LAST_STATS carries the excluded
    count and a UserWarning fires when it is nonzero. Driving the cap
    below the data's max degree makes every tested SF a 'hub graph'
    for this purpose — the binding path is exactly the one a
    power-law graph would hit."""
    import oarphpy_spark.queries.graph_queries as gq

    gq.release_shared_edges(spark)
    _, _, deg = gq._lp_shared_relations(spark, SF)
    from pyspark.sql import functions as F

    n_over_1 = deg.filter(F.col("dg") > 1).count()
    assert n_over_1 > 0  # sanity: cap=1 will bind on this graph

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        gq._link_prediction_exact(spark, SF, degree_cap=1)
    assert gq.LP_LAST_STATS == {
        "degree_cap": 1,
        "excluded_centers": n_over_1,
    }
    hub_warnings = [
        w for w in caught if "degree cap" in str(w.message)
    ]
    assert len(hub_warnings) == 1
    assert str(n_over_1) in str(hub_warnings[0].message)

    # the default cap never binds at tested SFs: counter present,
    # zero, and silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = gq.q_link_prediction(spark, SF)
    assert out.count() > 0
    assert gq.LP_LAST_STATS == {
        "degree_cap": gq._LP_DEGREE_CAP,
        "excluded_centers": 0,
    }
    assert not [w for w in caught if "degree cap" in str(w.message)]
    gq.release_shared_edges(spark)


def test_release_shared_edges_count_excludes_stale_entries(spark):
    """Stale-applicationId leftovers from a prior in-process session
    are evicted but must NOT inflate the returned count — the count
    reflects only live entries matching the caller's filter, so
    callers asserting `== 1` can't flake on leftovers."""
    import oarphpy_spark.queries.graph_queries as gq
    from oarphpy_spark.util import checkpoints

    gq.release_shared_edges(spark)
    gq._shared_edges(spark, SF)  # one live entry
    stale_key = ("app-from-a-dead-session", SF)
    # blocks died with its ctx
    checkpoints._SHARED[stale_key] = {"copurchase_edges": None}

    assert gq.release_shared_edges(spark, SF) == 1  # live only
    assert stale_key not in checkpoints._SHARED  # ...but still evicted
    assert not checkpoints._SHARED
