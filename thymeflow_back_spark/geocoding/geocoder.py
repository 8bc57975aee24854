"""Geocoding with a persistent cache table.

Parity with the reference geocoding stack (SURVEY.md §2.4 geocoder lookup
join): a fetch function resolves place names (optionally location-biased)
and reverse lookups to features; CachedGeocoder fronts it with a cache keyed
by (kind, query) — lookups join the cache table first, only misses reach the
backend, and the cache grows monotonically (reference CachedGeocoder.scala:
34-80 persists a JSON cache; here the cache is a DataFrame the caller can
persist as parquet/Delta).

The HTTP backend is injectable; the container has no network, so the real
photon/Google client is a thin fetch function the deployment provides
(batched inside mapInPandas at scale). Tests use a fake fetcher.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CACHE_SCHEMA = "kind string, query string, features string"  # features = JSON


@dataclass(frozen=True)
class Feature:
    name: str | None = None
    lon: float | None = None
    lat: float | None = None
    house_number: str | None = None
    street: str | None = None
    locality: str | None = None
    postal_code: str | None = None
    region: str | None = None
    country: str | None = None


# fetch(kind, query) -> list of Feature
Fetch = Callable[[str, str], list[Feature]]


class CachedGeocoder:
    def __init__(
        self,
        spark: SparkSession,
        fetch: Fetch,
        cache: DataFrame | None = None,
        parallelism: int = 2,
    ):
        self.spark = spark
        self._fetch = fetch
        # reference runs its geocoder HTTP at parallelism 2
        # (PlacesGeocoderEnricher.scala:28); here it is the partition count
        # of the executor-side miss fetch
        self.parallelism = parallelism
        self.cache = (
            cache if cache is not None else spark.createDataFrame([], CACHE_SCHEMA)
        )

    def lookup_batch(self, queries: DataFrame) -> DataFrame:
        """queries(kind, query) → (kind, query, features JSON).

        Cache hits are served by a join; misses are fetched EXECUTOR-SIDE in
        Arrow batches (mapInPandas over ``parallelism`` partitions — the
        reference's parallelism-2 async HTTP, CachedGeocoder.scala:34-80)
        and merged into the cache. The fetch callable is shipped to
        executors, so it must be picklable and self-contained (carry its own
        HTTP session setup)."""
        q = queries.select("kind", "query").dropDuplicates()
        hits = q.join(self.cache, ["kind", "query"])
        misses = q.join(self.cache.select("kind", "query"), ["kind", "query"], "left_anti")

        fetch = self._fetch

        def fetch_partition(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["features"] = [
                    json.dumps([asdict(f) for f in fetch(k, qq)])
                    for k, qq in zip(pdf["kind"], pdf["query"])
                ]
                yield pdf[["kind", "query", "features"]]

        # eager checkpoint: the external fetch runs exactly once, not on
        # every downstream action
        fetched = (
            misses.repartition(self.parallelism)
            .mapInPandas(fetch_partition, CACHE_SCHEMA)
            .localCheckpoint(eager=True)
        )
        if fetched.limit(1).count():
            self.cache = self.cache.unionByName(fetched).localCheckpoint(eager=True)
            return hits.unionByName(fetched)
        return hits

    def geocode_places(self, places: DataFrame, name_col: str = "name") -> DataFrame:
        """(place_id, name) → (place_id, name, features, n_features,
        certain). One feature → certain; several → uncertain (the
        reference's certain/uncertain graph split)."""
        queries = places.select(F.lit("direct").alias("kind"), F.col(name_col).alias("query"))
        resolved = self.lookup_batch(queries)
        out = places.join(
            resolved.filter(F.col("kind") == "direct").select(
                F.col("query").alias(name_col), "features"
            ),
            name_col,
            "left",
        )
        n_feat = F.json_array_length(F.coalesce("features", F.lit("[]")))
        return out.withColumn("n_features", n_feat).withColumn(
            "certain", F.col("n_features") == 1
        )
