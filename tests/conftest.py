from __future__ import annotations

import os

import pytest

from evmtrace_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="evmtrace_etl_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


def pytest_collection_modifyitems(config, items):
    """Two test tiers (r15, VERDICT r14 ask #4).

    The FULL suite takes ~60 min — past the driver's verification
    window (VERIFY_r14 recorded a timeout at ~47%, zero failures).  By
    default the deep scenario tests marked ``slow`` (multi-commit lake
    model programs, two-process races, long streaming scenarios,
    python-reference differentials — the coverage depth, not the
    correctness gate) are DESELECTED, leaving a <25-min default tier
    that still runs every driver-contract oracle row, the full
    plan-shape/sweep pins, and all operator units.  Set
    ``SPARK_GRAFT_FULL_TESTS=1`` to run everything (the round's own
    audit trail does).  A test FILE or node id named on the command
    line runs in full: ``pytest tests/test_lake_merge.py`` runs its
    slow tests instead of silently selecting none; naming a directory
    (``pytest tests/``) keeps the default tier.
    """
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    named = {
        os.path.abspath(arg.split("::")[0])
        for arg in config.args
        if not os.path.isdir(arg.split("::")[0])
    }
    selected, deselected = [], []
    for item in items:
        slow = item.get_closest_marker("slow") and str(item.path) not in named
        (deselected if slow else selected).append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected
