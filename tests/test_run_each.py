"""The one registry loop (``plans.run_each``), the one cache-release
path (``plans.release_caches``) and the one plan-text helper
(``plans.plan_text``)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from ingestion_pipeline_spark.plans import plan_text, registry, release_caches, run_each


def _register_first(monkeypatch, name, builder):
    """Register ``builder`` as the first query in contract order."""
    monkeypatch.setitem(
        registry.REGISTRY, name, registry.QuerySpec(name, builder, None, "test")
    )
    monkeypatch.setattr(registry, "GRADED_WINDOW", [name, *registry.GRADED_WINDOW])


def test_builder_raising_mid_loop_is_recorded_and_released(
    spark, sf_dir, monkeypatch, n_persisted
):
    start = n_persisted()
    pinned = []

    def raises_mid_loop(spark, sf_dir):
        spark.range(1000).localCheckpoint(eager=True)
        pinned.append(n_persisted())
        raise RuntimeError("builder failed mid-loop")

    at_entry = {}

    def count_rows(name, fn):
        at_entry[name] = n_persisted()
        return fn(spark, sf_dir).count()

    _register_first(monkeypatch, "zz_raises_mid_loop", raises_mid_loop)
    results = run_each(spark, count_rows, ["q1_pricing_summary", "zz_raises_mid_loop"])
    assert list(results) == ["zz_raises_mid_loop", "q1_pricing_summary"]
    assert isinstance(results["zz_raises_mid_loop"], RuntimeError)
    assert pinned and pinned[0] > start  # the checkpoint was really pinned
    # released right after the raise, before the next query started
    assert at_entry["q1_pricing_summary"] <= start
    assert results["q1_pricing_summary"] > 0
    assert n_persisted() <= start


def test_unknown_names_raise_before_any_builder_runs(spark, monkeypatch):
    ran = []
    _register_first(monkeypatch, "zz_records_call", lambda s, d: ran.append(d))
    with pytest.raises(ValueError, match="no_such_query"):
        run_each(
            spark,
            lambda name, fn: ran.append(name),
            ["zz_records_call", "no_such_query"],
        )
    assert ran == []


class _ConnectLike:
    """A session whose ``sparkContext`` is unsupported, as under Spark
    Connect."""

    def __init__(self, cleared):
        self.catalog = SimpleNamespace(clearCache=lambda: cleared.append(1))

    @property
    def sparkContext(self):
        raise NotImplementedError("sparkContext is not supported")


@pytest.mark.parametrize("kind", ["no_attribute", "connect_like"])
def test_release_caches_without_jvm_handle_returns_zero_and_warns(kind):
    cleared: list[int] = []
    session = (
        SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: cleared.append(1)))
        if kind == "no_attribute"
        else _ConnectLike(cleared)
    )
    with pytest.warns(UserWarning, match="no JVM SparkContext handle"):
        assert release_caches(session) == 0
    assert cleared == [1]


def test_plan_text_shows_the_table_scan(spark, sf_dir):
    text = plan_text(spark.read.parquet(f"{sf_dir}/lineitem.parquet"), "simple")
    assert text.startswith("== Physical Plan ==")
    assert "FileScan parquet" in text
