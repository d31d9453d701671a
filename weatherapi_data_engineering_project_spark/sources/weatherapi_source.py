"""WeatherAPI as a first-class Spark data source (PySpark Python
Data Source API, Spark >= 4).

The reference's extraction is a driver-side loop over 10 cities
(``DataExtraction.py:48-69``); SURVEY.md §2 S1 maps it to a custom
``DataSource`` so extraction becomes a planned, partitioned scan:

    spark.dataSource.register(WeatherApiDataSource)
    df = (spark.read.format("weatherapi")
          .option("cities", "New Delhi,Mumbai")
          .option("api_key", "...")          # or mode=fixture for tests
          .option("days", "3")
          .load())

Each city is one input partition, so a 10,000-city fleet fans out
across the cluster instead of serializing through the driver, failures
skip only their city (the reference's per-city try/except, S1), and the
result is a normal DataFrame feeding the same raw-zone sink.

``mode=fixture`` serves the deterministic fixture documents without any
network — what CI uses; ``mode=http`` needs ``api_key`` and performs
the real ``forecast.json`` GET per city inside the executor.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .rest import DEFAULT_CITIES, http_fetcher

RAW_SCHEMA_DDL = "city string, run_date string, payload string"


class _CityPartition(InputPartition):
    def __init__(self, city: str):
        self.city = city


class WeatherApiReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.cities = [
            c.strip()
            for c in options.get("cities", ",".join(DEFAULT_CITIES)).split(",")
            if c.strip()
        ]
        self.mode = options.get("mode", "http")
        self.days = int(options.get("days", "3"))
        self.run_date = options.get("run_date", "2024-06-01")

    def partitions(self) -> Sequence[InputPartition]:
        return [_CityPartition(c) for c in self.cities]

    def read(self, partition: _CityPartition) -> Iterator[tuple]:
        city = partition.city
        if self.mode == "fixture":
            from .. import fixtures as FX

            for doc in FX.raw_docs():
                if doc["location"]["name"] == city:
                    yield (city, self.run_date, json.dumps(doc))
            return
        # http mode: the real WeatherAPI GET (DataExtraction.py:32-40),
        # executed inside the executor; a failed city yields no rows
        # (the reference's skip-on-error policy).
        api_key = self.options.get("api_key")
        if not api_key:
            raise ValueError("weatherapi: api_key option required in http mode")
        payload = http_fetcher(api_key, self.days)(city)
        if payload is not None:
            yield (city, self.run_date, payload)


class WeatherApiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "weatherapi"

    def schema(self) -> str:
        return RAW_SCHEMA_DDL

    def reader(self, schema) -> WeatherApiReader:
        return WeatherApiReader(self.options)
