"""SparkSession factory settings that need no running session."""

from __future__ import annotations

import pytest

from webxtract.session import graft_cpus


@pytest.mark.parametrize(
    ("raw", "want"),
    [("4", 4), (" 8 ", 8), ("0", 1), ("-3", 1), ("*", None), ("", None), ("2.5", None)],
)
def test_graft_cpus_parses_once_with_floor_and_fallback(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert graft_cpus() == want


def test_graft_cpus_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert graft_cpus() is None
