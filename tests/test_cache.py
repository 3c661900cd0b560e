"""``cache._build_pool_cap``: the concurrent-builder pool size read from
the environment (no Spark session needed)."""

from __future__ import annotations

import os

import pytest

from topic_modeling_ajin_spark.cache import _build_pool_cap

DEFAULT_CPUS = os.cpu_count() or 8


@pytest.mark.parametrize(
    "pool, cpus, n_builders, expected",
    [
        (None, "4", 19, 2),
        (None, "32", 19, 8),
        (None, "32", 5, 5),
        ("3", "4", 19, 3),
        ("0", "4", 19, 1),
        # malformed values fall back to the default
        ("abc", "16", 19, 4),
        ("2.5", "16", 19, 4),
        ("abc", "x", 19, max(2, min(19, DEFAULT_CPUS // 4))),
        (None, "four", 19, max(2, min(19, DEFAULT_CPUS // 4))),
    ],
)
def test_build_pool_cap_env(monkeypatch, pool, cpus, n_builders, expected):
    if pool is None:
        monkeypatch.delenv("SPARK_GRAFT_BUILD_POOL", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_BUILD_POOL", pool)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    assert _build_pool_cap(n_builders) == expected
