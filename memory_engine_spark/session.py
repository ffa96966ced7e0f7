"""SparkSession factory + engine session (table registry, query cache).

Replaces the reference's pluggable storage backends
(/root/reference/memory_core/storage/factory.py) with a single
Parquet-backed table registry, and its query-result cache
(/root/reference/memory_core/query/query_cache.py:61-514) with a
keyed cache of collected responses (rows plus total_count) held on the
driver: a hit runs no Spark job and pins no block-manager storage. The
cache is bounded by a total row budget, dropping its oldest entries first.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import time
from collections import OrderedDict
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

# Tuned for the local[32]/128GiB test harness; on a real cluster these
# are overridden by spark-submit conf. AQE handles runtime re-planning
# (partition coalescing, skew-join splitting) at any scale.
DEFAULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # test parquet is written with ns timestamps; read as long and convert
    # (sources/tables.py) — Spark has no native TIMESTAMP(NANOS) type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 16 MiB: big enough to broadcast real dimension tables, small enough
    # that AQE never broadcasts a million-row exploded intermediate.
    "spark.sql.autoBroadcastJoinThreshold": str(16 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.ui.enabled": "false",
    # static: read when the SparkContext starts, so it must be set here
    "spark.ui.showConsoleProgress": "false",
}


# Rows the response cache holds across all entries. An entry costs at
# least 1, so the budget also bounds the number of (empty) responses.
CACHE_MAX_ROWS = 100_000


def get_spark(app_name: str = "memory-engine-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class EngineSession:
    """Holds a SparkSession plus the engine's registered tables.

    Core tables (SURVEY.md §1.1): nodes, edges, embeddings, revisions,
    events. Any parquet directory with table files can be attached; the
    TPC-H-ish driver test tables load the same way.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self._tables: dict[str, DataFrame] = {}
        # key -> (stored at, rows, total_count), oldest first
        self._cache: OrderedDict[str, tuple[float, list[dict], int]] = OrderedDict()
        self._cache_rows = 0
        self.cache_ttl = 3600.0  # reference default, query_types.py:106

    # -- table registry ----------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        self._tables[name] = df
        df.createOrReplaceTempView(name)

    def attach_dir(self, path: str, tables: Iterable[str] | None = None) -> None:
        """Register every ``<path>/<name>.parquet`` as a table."""
        names = list(tables) if tables else [
            f[: -len(".parquet")] for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        ]
        from .sources.tables import _read_parquet
        for name in names:
            # the normalizing reader, NOT a bare spark.read.parquet:
            # ns-timestamps and zone-less (NTZ) columns must become
            # TIMESTAMP here too, or epoch functions (unix_micros in
            # sessionize) fail on attached tables
            self.register(name, _read_parquet(
                self.spark, os.path.join(path, f"{name}.parquet")))

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            raise KeyError(f"table not registered: {name!r} (have {sorted(self._tables)})")
        return self._tables[name]

    @property
    def tables(self) -> dict[str, DataFrame]:
        return dict(self._tables)

    # -- keyed result cache (reference: query_cache.py MD5-of-request key) --
    @staticmethod
    def cache_key(payload: dict) -> str:
        return hashlib.md5(json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()

    def cached(self, key: str) -> tuple[list[dict], int] | None:
        """Cache hit as (rows, total_count) or None. The reference's
        query_cache stores the whole response, not just the page
        (query_cache.py): the pre-pagination total_count comes back with
        the page, as it was when ``put_cache`` stored it. The rows are a
        fresh deep copy, so a caller mutating them cannot change a
        later hit."""
        hit = self._cache.get(key)
        if hit is None:
            return None
        ts, rows, total = hit
        if time.time() - ts > self.cache_ttl:
            self._drop_cached(key)
            return None
        return copy.deepcopy(rows), total

    def put_cache(self, key: str, rows: list[dict], total_count: int) -> None:
        """Store a collected response (a deep copy of ``rows``). Entries
        are kept in the order they were stored, which is also the order
        they expire in: expired entries are swept from the front, then the
        oldest are dropped until the new one fits ``CACHE_MAX_ROWS``. A
        response larger than the whole budget is not stored."""
        self._drop_cached(key)
        cost = max(1, len(rows))
        if cost > CACHE_MAX_ROWS:
            return
        now = time.time()
        while self._cache and (
                now - next(iter(self._cache.values()))[0] > self.cache_ttl
                or self._cache_rows + cost > CACHE_MAX_ROWS):
            self._drop_cached(next(iter(self._cache)))
        self._cache[key] = (now, copy.deepcopy(rows), total_count)
        self._cache_rows += cost

    def _drop_cached(self, key: str) -> None:
        hit = self._cache.pop(key, None)
        if hit is not None:
            self._cache_rows -= max(1, len(hit[1]))

    def invalidate_cache(self) -> None:
        self._cache.clear()
        self._cache_rows = 0
