"""Session knobs: ``SPARK_GRAFT_CPUS`` parsing and its fallback."""

from __future__ import annotations

import pytest

from ingestion_pipeline_spark.session import default_parallelism


def test_cpus_knob_reads_positive_integer(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert default_parallelism() == 4
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == 32


@pytest.mark.parametrize("raw", ["four", "2.5", ""])
def test_non_integer_cpus_knob_warns_and_falls_back(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CPUS"):
        assert default_parallelism() == 32


@pytest.mark.parametrize("raw", ["0", "-3"])
def test_non_positive_cpus_knob_warns_and_falls_back(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CPUS"):
        assert default_parallelism() == 32
