"""Plan-build cost guard for the llm_curation hot queries.

Both workloads of the benchmark spend more time building plans than
running tasks: a plan costs Py4J round trips and analyzer passes. Each of
these queries builds its plans as bound ``spark.sql`` statements; this
test counts the Py4J commands a warm build sends and fails when a
change brings back a chain of per-expression calls.
"""

from __future__ import annotations

import contextlib
import threading

import pytest

from oarphpy_spark import registry
from oarphpy_spark.util.checkpoints import release_cached, release_shared

from .conftest import SF_SMALL

# Py4J commands per warm build at sf0.001, about 1.5x the counts
# measured with the statement forms (q_dedup_minhash 62, q_sim_ivf_topk
# 115, memory releases left out); the chained DataFrame forms they
# replaced sent 1157 and 845.
_BUDGET = {"q_dedup_minhash": 95, "q_sim_ivf_topk": 175}


@contextlib.contextmanager
def _counting_py4j(spark):
    """Collect the Py4J commands this thread sends inside the block.
    Memory-release commands are left out: Python sends them when it
    frees a JVM reference, so their timing follows the garbage
    collector, not the code being measured."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send


@pytest.mark.parametrize("name", sorted(_BUDGET))
def test_warm_build_py4j_budget(spark, name):
    build = registry.queries()[name]

    def cold_buckets_build():
        # The session-shared MinHash buckets are rebuilt per build, as
        # the benchmark does between passes.
        release_shared(spark, SF_SMALL)
        return build(spark, SF_SMALL)

    release_cached(cold_buckets_build())  # warms schemas and centroids
    with _counting_py4j(spark) as sent:
        df = cold_buckets_build()
    release_cached(df)
    assert len(sent) <= _BUDGET[name], (
        f"{name}: {len(sent)} Py4J commands in a warm build "
        f"(budget {_BUDGET[name]})"
    )
