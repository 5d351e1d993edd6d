"""Custom connector via the PySpark Python Data Source API (Spark 4):
an NVD-style REST catalog exposed as ``spark.read.format("nvd_rest")``.

The reference fetches NVD records one blocking GET at a time on the
driver thread (`llama-chatbot/main.py:86-101`). As a *data source*
(rather than the enrichment UDF in ``sources/rest.py``, which covers
the per-row join case), the catalog scan becomes a first-class
partitioned read: one input partition per year slice, each executor
fetching its slice in parallel, with the fetch pluggable. The default
fetcher is a deterministic offline fake (network-free tests, and its
arithmetic is SQL-expressible so the whole connector sits under the
DuckDB value-hash gate — `s_pyds_nvd_scan`); a real deployment swaps
in an HTTP fetcher with retry/backoff.

Options: start_year, end_year (exclusive), per_year.
Schema: cve_id string, year int, seq int, base_score double,
base_severity string, cwe_id string.
"""

from __future__ import annotations

import sys
from typing import Iterator

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# Spark pickles the data source class and its readers into Python
# workers: ship this module by value (as functions/text.py does), so a
# worker never has to import the package.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def fake_nvd_records(year: int, per_year: int) -> Iterator[tuple]:
    """Deterministic stand-in for one year's catalog slice: score cycles
    through 0.0-10.0, severity follows the CVSS v3 bands, CWE cycles
    mod 400 — all integer arithmetic, reproducible anywhere."""
    for j in range(per_year):
        score_x10 = (year * 37 + j * 13) % 101
        score = score_x10 / 10.0
        if score >= 9.0:
            sev = "CRITICAL"
        elif score >= 7.0:
            sev = "HIGH"
        elif score >= 4.0:
            sev = "MEDIUM"
        elif score > 0.0:
            sev = "LOW"
        else:
            sev = "NONE"
        yield (
            f"CVE-{year}-{1000 + j}",
            year,
            j,
            score,
            sev,
            f"CWE-{(j * 7) % 400 + 1}",
        )


class YearPartition(InputPartition):
    def __init__(self, year: int, per_year: int):
        self.year = year
        self.per_year = per_year


class NvdRestReader(DataSourceReader):
    def __init__(self, options: dict):
        self.start_year = int(options.get("start_year", 2020))
        self.end_year = int(options.get("end_year", 2024))
        self.per_year = int(options.get("per_year", 50))

    def partitions(self):
        # One partition per year slice → executor-parallel fetch; a real
        # catalog would sub-split big years by result-page ranges.
        return [YearPartition(y, self.per_year) for y in range(self.start_year, self.end_year)]

    def read(self, partition: YearPartition) -> Iterator[tuple]:
        return fake_nvd_records(partition.year, partition.per_year)


class NvdRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "nvd_rest"

    def schema(self) -> str:
        return (
            "cve_id string, year int, seq int, base_score double, "
            "base_severity string, cwe_id string"
        )

    def reader(self, schema) -> NvdRestReader:
        return NvdRestReader(self.options)

    def simpleStreamReader(self, schema) -> "NvdRestStreamReader":
        return NvdRestStreamReader(self.options)


class NvdRestStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the same connector (Spark 4 Python Data Source
    streaming API): each micro-batch drains one year slice, the offset
    is simply the next year to fetch — the incremental-catalog-poll
    pattern (reference analog: the poll loop re-reading the NVD feed,
    consumer/consumer.py:127-145, here with engine-managed offsets and
    replay instead of auto-commit).

    ``readBetweenOffsets`` replays any committed range deterministically
    (the fetcher is pure), giving exactly-once into idempotent sinks —
    the W2/W3 offset-checkpoint semantics for a CUSTOM source."""

    def __init__(self, options: dict):
        self.start_year = int(options.get("start_year", 2002))
        self.end_year = int(options.get("end_year", 2004))
        self.per_year = int(options.get("per_year", 20))

    def initialOffset(self) -> dict:
        return {"year": self.start_year}

    def read(self, start: dict):
        y = int(start["year"])
        if y >= self.end_year:  # end_year exclusive, batch-reader parity
            return [], start  # drained: offset stops advancing
        # materialized list, not a generator: the simple-reader protocol
        # PICKLES the rows into the prefetch cache
        return list(fake_nvd_records(y, self.per_year)), {"year": y + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        out: list = []
        for y in range(int(start["year"]), int(end["year"])):
            out.extend(fake_nvd_records(y, self.per_year))
        return out


def register_nvd_source(spark) -> None:
    """Idempotent registration of the connector on a session."""
    spark.dataSource.register(NvdRestDataSource)
