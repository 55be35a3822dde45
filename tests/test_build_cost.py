"""Driver-cost guards for session start-up and the llm_curation hot paths.

Both workloads of the benchmark spend more time building plans than
running tasks: a plan costs Py4J round trips and analyzer passes. Each of
the hot queries builds its plans as bound ``spark.sql`` statements; these
tests count the Py4J commands a warm build sends and fail when a change
brings back a chain of per-expression calls. ``RowAdapter.to_df`` gets
the same guard: a fixed number of commands and no job, whatever the
number of objects. Listing the registry at start-up gets a module
budget: it must not import the query modules.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import operator
import os
import subprocess
import sys
import threading

import numpy as np
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


@dataclasses.dataclass
class _Box:
    x: float
    y: float


@dataclasses.dataclass
class _Sample:
    """Shaped like the benchmark's codec objects: scalars, containers,
    nested objects, a small and a packed tensor, a wrapped callable."""

    sample_id: int
    name: str
    tags: list
    attrs: dict
    boxes: list
    small: np.ndarray
    big: np.ndarray
    fn: object


def _samples(n):
    from oarphpy_spark.codec.callables import CloudpickeledCallable

    rng = np.random.default_rng(0)
    return [
        _Sample(
            sample_id=i,
            name=f"sample-{i}",
            tags=["a", "b"][: 1 + i % 2],
            attrs={f"a{j}": float(j) for j in range(1 + i % 3)},
            boxes=[_Box(float(i), float(j)) for j in range(1 + i % 3)],
            small=rng.normal(size=(3, 3)).astype("float32"),
            big=rng.normal(size=(16, 32)).astype("float32"),
            fn=CloudpickeledCallable(functools.partial(operator.mul, i)),
        )
        for i in range(n)
    ]


# Py4J commands of a warm to_df of 600 objects, about 1.5x the 13
# measured: parallelize ships the encoded rows in one file, then
# pythonToJava and applySchemaToPythonRDD wrap them. The count does not
# grow with the number of objects.
_TO_DF_BUDGET = 20


def test_warm_to_df_py4j_budget(spark):
    from oarphpy_spark.codec.row_adapter import RowAdapter

    objs = _samples(600)
    RowAdapter.to_df(spark, objs)  # warms the compiled encoder
    sc = spark.sparkContext
    sc.setJobGroup("to-df-budget", "warm to_df")
    try:
        with _counting_py4j(spark) as sent:
            RowAdapter.to_df(spark, objs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("to-df-budget") == []
    assert len(sent) <= _TO_DF_BUDGET, (
        f"to_df: {len(sent)} Py4J commands for 600 objects (budget {_TO_DF_BUDGET})"
    )


# Engine modules a fresh ``registry.queries()`` may load: the package,
# ``registry``, ``queries`` and ``session`` (4 measured). Importing the
# query modules to register them loaded 59.
_STARTUP_MODULE_BUDGET = 6


def test_registry_listing_module_budget():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, sys\n"
        "from oarphpy_spark import registry\n"
        "n = len(registry.queries())\n"
        "print(json.dumps([n, sorted(m for m in sys.modules"
        " if m.split('.')[0] == 'oarphpy_spark')]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        env=dict(os.environ, PYTHONPATH=repo),
    )
    n, loaded = json.loads(out.stdout.strip().splitlines()[-1])
    assert n > 250
    assert len(loaded) <= _STARTUP_MODULE_BUDGET, loaded
