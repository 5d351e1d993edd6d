"""Session knobs: ``SPARK_GRAFT_CPUS`` and the byte-size knobs, parsed
with one warn-and-fall-back rule."""

from __future__ import annotations

import pytest

from ingestion_pipeline_spark.session import byte_size_knob, default_parallelism


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


@pytest.mark.parametrize("raw", ["48g", "2048m", "512MB", "1048576", " 4g "])
def test_byte_size_knob_reads_spark_sizes(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
    assert byte_size_knob("SPARK_GRAFT_DRIVER_MEM", "48g") == raw.strip()


def test_unset_byte_size_knob_gives_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    assert byte_size_knob("SPARK_GRAFT_MAX_PARTITION_BYTES", None) is None
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert byte_size_knob("SPARK_GRAFT_DRIVER_MEM", "48g") == "48g"


@pytest.mark.parametrize("raw", ["48x", "1.5g", "0", "0g", "-2g", "g", ""])
@pytest.mark.parametrize(
    "name, default",
    [("SPARK_GRAFT_DRIVER_MEM", "48g"), ("SPARK_GRAFT_MAX_PARTITION_BYTES", None)],
)
def test_malformed_byte_size_knob_warns_and_falls_back(monkeypatch, raw, name, default):
    monkeypatch.setenv(name, raw)
    with pytest.warns(UserWarning, match=name):
        assert byte_size_knob(name, default) == default
