"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
over the driver's synthetic tables; ``oracle_sql()`` holds the matching
DuckDB SQL. Numeric outputs are rounded on BOTH sides, float sums go
through DECIMAL casts so they are order-independent, and integer columns
are cast to BIGINT so schemas align.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memory_engine_spark.operators import (
    corpus, dedup, discovery, graph, ingestion, multimodal, qa, quality,
    similarity, synthesis, text,
)
from memory_engine_spark.operators.aggregates import (
    group_count, iqr_outliers, monthly_counts,
)
from memory_engine_spark.functions import sketch
from memory_engine_spark.checkpoint import lc as _lc
from memory_engine_spark.checkpoint import lc_lazy as _lc_lazy
from memory_engine_spark.operators.merging import clamp01
from memory_engine_spark.operators.ranking import combined_score, relevance_score
from memory_engine_spark.operators.text import quality_score
from memory_engine_spark.plans.compiler import compile_query
from memory_engine_spark.plans.query_spec import QuerySpec
from memory_engine_spark.sources.tables import graph_edges, load_tables

SF0001 = "/root/testdata/sf0.001"

# SQL CTE mirroring sources/tables.py::graph_edges for the oracles.
EDGES_CTE = """
edges AS (
    SELECT 'c_' || o_custkey AS from_id, 'o_' || o_orderkey AS to_id,
           'placed' AS relation_type FROM orders
    UNION ALL
    SELECT DISTINCT 'o_' || l_orderkey, 'p_' || l_partkey, 'contains' FROM lineitem
    UNION ALL
    SELECT DISTINCT 'o_' || l_orderkey, 's_' || l_suppkey, 'supplied_by' FROM lineitem
    UNION ALL
    SELECT 'c_' || c_custkey, 'n_' || c_nationkey, 'from_nation' FROM customer
    UNION ALL
    SELECT 's_' || s_suppkey, 'n_' || s_nationkey, 'from_nation' FROM supplier
    UNION ALL
    SELECT 'n_' || n_nationkey, 'r_' || n_regionkey, 'in_region' FROM nation
),
edges_sym AS (
    SELECT from_id, to_id, relation_type FROM edges
    UNION ALL
    SELECT to_id, from_id, relation_type FROM edges
)
"""

# Tokenizer CTE matching operators/dedup.py::tokens for the oracles.
# q187: the 8 IR-eval query terms (all high-frequency corpus vocab)
IR_TERMS = ["filter", "hash", "join", "merge",
            "scan", "spark", "stream", "window"]

TOKS_CTE = """
toks_t AS (
    SELECT doc_id, list_filter(
        string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        x -> x <> '') AS toks, text
    FROM documents
)
"""


# Table plans are cheap but their construction (footer reads, pyarrow
# schema inspection) costs ~2s per call at 10 tables; cache per session+dir.
_TABLE_CACHE: dict[tuple[int, str], dict] = {}

# Size-budgeted LRU registry of the named session caches below (round-6
# VERDICT item: round 5 pinned 8+ resident structures with no size
# accounting, and SCALING.md r01 documented 6x probe inflation from
# exactly that storage contention). Every builder records, under a
# stable NAME, (a) the persistent-RDD ids it created — diff of the JVM
# persistent-RDD map around its miss path — and (b) the Python dict +
# key holding its handle, so eviction can both unpersist the JVM blocks
# (looked up by id; no frame handle needed) and pop the dict entry so
# the next access rebuilds from .derived parquet. Budget enforcement is
# LRU (hit paths touch their entry) and runs at registration time; the
# hygiene-pass contract (bench.py's drop_transient_caches consults
# pinned_rdd_ids()) is unchanged.
import itertools as _itertools

_PIN_SEQ = _itertools.count()
# name -> {"ids": set[int], "cache": dict, "key": hashable, "seq": int}
_PIN_REGISTRY: dict[str, dict] = {}
# Budget-pressure evictions (NOT the deliberate budget=0 hygiene
# drops), appended by evict_pins_to_budget so bench.py can prove
# "no eviction fired" rather than assume it.
EVICTION_LOG: list[str] = []
# Evicting the lazy table wrappers would orphan references other
# builders hold; they also own ~no storage. Never evicted.
_PIN_PROTECTED = {"tables"}


def _rdd_snap(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {e.getKey() for e in jmap.entrySet().toArray()}


def _pin_new(spark: SparkSession, before: set[int], name: str,
             cache: dict | None = None, key=None) -> None:
    _PIN_REGISTRY[name] = {"ids": _rdd_snap(spark) - before,
                           "cache": cache, "key": key,
                           "seq": next(_PIN_SEQ)}
    evict_pins_to_budget(spark, protect={name})


def _touch_pin(name: str) -> None:
    if name in _PIN_REGISTRY:
        _PIN_REGISTRY[name]["seq"] = next(_PIN_SEQ)


def pinned_rdd_ids() -> set[int]:
    """RDD ids every named session cache currently owns. Consult this
    in addition to any startup snapshot before bulk-unpersisting."""
    out: set[int] = set()
    for e in _PIN_REGISTRY.values():
        out |= e["ids"]
    return out


def pinned_cache_sizes(spark: SparkSession) -> dict[str, int]:
    """Bytes (memory + disk) currently held per named session cache,
    from the JVM RDDStorageInfo. Entries whose blocks were evicted by
    Spark itself report 0 — they still occupy a registry slot until
    LRU-evicted here."""
    info = {r.id(): int(r.memSize() + r.diskSize())
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    return {name: sum(info.get(i, 0) for i in e["ids"])
            for name, e in _PIN_REGISTRY.items()}


def _frames_of(val):
    """Yield every DataFrame inside a cache value (frame, tuple of
    frames, layout dict, nested)."""
    if isinstance(val, DataFrame):
        yield val
    elif isinstance(val, dict):
        for v in val.values():
            yield from _frames_of(v)
    elif isinstance(val, (tuple, list)):
        for v in val:
            yield from _frames_of(v)


def _evict_pin(spark: SparkSession, name: str) -> None:
    e = _PIN_REGISTRY.pop(name, None)
    if e is None:
        return
    # Dataset-level unpersist FIRST: unpersisting only the JVM RDD
    # leaves the CacheManager's InMemoryRelation behind with storage
    # level NONE, so a rebuilt identical plan "re-caches" into a
    # relation that never stores blocks again (observed in the round-6
    # registry test). Dataset.unpersist drops the CacheManager entry.
    if e["cache"] is not None:
        for df in _frames_of(e["cache"].get(e["key"])):
            try:
                df.unpersist(False)
            except Exception:
                pass
        e["cache"].pop(e["key"], None)
    # RDD-level sweep for blocks no Dataset handle covers
    # (localCheckpoint block RDDs).
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for entry in jmap.entrySet().toArray():
        if entry.getKey() in e["ids"]:
            entry.getValue().unpersist(False)


def pin_budget_bytes() -> int:
    """Session cache budget; env-tunable. Default 8 GiB — ~6x the full
    sf0.1 index set, so the bench never thrashes, while a long-lived
    session (or a larger SF) gets bounded storage instead of unbounded
    accumulation. On a real cluster this maps to a fraction of
    aggregate executor storage memory."""
    import os
    return int(os.environ.get("SPARK_GRAFT_PIN_BUDGET_MB", "8192")) * (1 << 20)


def evict_pins_to_budget(spark: SparkSession, budget: int | None = None,
                         protect: set[str] = frozenset()) -> list[str]:
    """Unpersist least-recently-used named caches until total pinned
    bytes fit the budget. Evicted builders rebuild from their .derived
    parquet on next touch (cheap re-read, not re-ETL). Returns evicted
    names."""
    budget = pin_budget_bytes() if budget is None else budget
    sizes = pinned_cache_sizes(spark)
    total = sum(sizes.values())
    evicted: list[str] = []
    for name in sorted(_PIN_REGISTRY, key=lambda n: _PIN_REGISTRY[n]["seq"]):
        if total <= budget:
            break
        if name in _PIN_PROTECTED or name in protect:
            continue
        total -= sizes.get(name, 0)
        _evict_pin(spark, name)
        evicted.append(name)
        # Evictions must be VISIBLE (round-6 VERDICT: silent thrash —
        # evict-at-registration → rebuild next query → evict again —
        # would be indistinguishable from plan regressions in the
        # bench numbers). Ledger + stderr line, except for the
        # deliberate budget=0 hygiene drops.
        if budget > 0:
            import sys as _sys
            print(f"# pin-evict: {name} ({sizes.get(name, 0) >> 20} MB), "
                  f"pinned {sum(sizes.values()) >> 20} MB > "
                  f"budget {budget >> 20} MB", file=_sys.stderr)
    if budget > 0 and evicted:
        EVICTION_LOG.extend(evicted)
    return evicted


def drop_all_pins(spark: SparkSession) -> list[str]:
    """Evict every non-protected named cache (budget 0). bench.py calls
    this before the scale_10x probe so the probe measures operator
    scaling in a clean cache state, not session storage contention —
    the r05 bfs_2hop 36.7s blow-up was exactly the latter (isolated
    re-run: 9.3s; see SCALING.md round 6)."""
    return evict_pins_to_budget(spark, budget=0)


# tools/registry_drill.py flips this OFF to measure the UNDERLYING
# drift frontier (the raw 238/243 survival matrix); every production
# path leaves it on and loud-fails instead.
TZ_GUARD = True


def _assert_session_tz_utc(spark: SparkSession) -> None:
    """tz-drift loud-fail guard (r12, r11 verdict item 3). load_tables
    pins spark.sql.session.timeZone=UTC at the LOAD boundary, but a
    MID-SESSION zone change still silently shifts every
    TIMESTAMP_NTZ→TIMESTAMP cast at execution time — the r11 registry
    drill measured exactly 5 queries flipping under a post-load
    America/New_York switch (18000 s epoch deltas; REGISTRY.md
    'Conf-sensitivity drills'). There is no zone-independent NTZ
    primitive in Spark 4.1 (explored and rejected: DST fall-back makes
    the zero-frontier rewrite a WORSE error class), so the honest fix
    is to turn the silent wrong answer into a loud failure at the one
    boundary every registry query passes through."""
    if not TZ_GUARD:
        return
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz != "UTC":
        raise RuntimeError(
            f"session timezone drifted to {tz!r} after the UTC load "
            "boundary; the NTZ-cast frontier (q60_asof_join, "
            "q94_resample_ffill, q102_funnel, q105_rolling_zscore, "
            "q117_session_windows) would silently shift epochs — see "
            "REGISTRY.md conf-sensitivity drills. Restore "
            "spark.conf.set('spark.sql.session.timeZone', 'UTC') "
            "before running registry queries.")


def _t(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _TABLE_CACHE:
        before = _rdd_snap(spark)
        _TABLE_CACHE[key] = load_tables(spark, sf_dir)
        _pin_new(spark, before, "tables", _TABLE_CACHE, key)
    else:
        _assert_session_tz_utc(spark)
    _touch_pin("tables")
    return _TABLE_CACHE[key]


_EDGES_CACHE: dict[tuple[int, str], DataFrame] = {}


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived edge table. The reference STORES its adjacency natively
    (JanusGraph/SQLite edge tables); deriving it from the star schema's
    foreign keys is ETL the reference never pays at query time — so it
    is materialized ONCE per scale factor to parquet
    (.derived/<sf>/edges) and memory-cached per session. Built
    atomically (temp dir + rename) so concurrent query processes race
    safely; falls back to the in-memory plan if the repo dir is
    read-only."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _EDGES_CACHE:
        _touch_pin("edges")
        return _EDGES_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "edges")
    try:
        if not os.path.isdir(dest):
            tmp = dest + f".tmp{os.getpid()}"
            graph_edges(_t(spark, sf_dir)).write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, dest)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        df = spark.read.parquet(dest).persist()
    except Exception:  # pragma: no cover — read-only checkout etc.
        df = graph_edges(_t(spark, sf_dir)).persist()
    df.count()
    _pin_new(spark, before, "edges", _EDGES_CACHE, key)
    _EDGES_CACHE[key] = df
    return df


_IVF_CACHE: dict[tuple[int, str, int], tuple[DataFrame, DataFrame]] = {}


def _ivf(spark: SparkSession, sf_dir: str, nlist: int = 16):
    """Offline IVF-FLAT index, built ONCE per scale factor and
    materialized to .derived/<sf>/ivf with the assignment PARTITIONED BY
    cell — so ``topk_ivf``'s cell-IN-probe filter becomes real partition
    pruning on the parquet read (the reference's Milvus index likewise
    lives outside the query, milvus_store.py:56-110). Same atomic
    tmp+rename race protocol as ``_edges``; in-memory fallback on
    read-only checkouts. Returns (centroids, assigned)."""
    import os
    import shutil

    key = (id(spark), sf_dir, nlist)
    if key in _IVF_CACHE:
        _touch_pin(f"ivf:{key[2:]}")
        return _IVF_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, f"ivf{nlist}")
    try:
        if not os.path.isdir(base):
            emb = _t(spark, sf_dir)["embeddings"]
            cents, assigned = similarity.build_ivf_flat(
                emb, nlist=nlist, id_col="vec_id")
            tmp = base + f".tmp{os.getpid()}"
            cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
            (assigned.write.mode("overwrite").partitionBy("cell")
             .parquet(os.path.join(tmp, "assigned")))
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        cents = spark.read.parquet(os.path.join(base, "centroids")).persist()
        cents.count()
        assigned = spark.read.parquet(os.path.join(base, "assigned"))
    except Exception:  # pragma: no cover — read-only checkout etc.
        cents, assigned = similarity.build_ivf_flat(
            _t(spark, sf_dir)["embeddings"], nlist=nlist, id_col="vec_id")
        assigned = assigned.transform(_lc)
    _pin_new(spark, before, f"ivf:{key[2:]}", _IVF_CACHE, key)
    _IVF_CACHE[key] = (cents, assigned)
    return cents, assigned


_LIMONTH_CACHE: dict[tuple[int, str], DataFrame] = {}


def _li_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline MONTH-PARTITIONED lineitem layout
    (.derived/<sf>/li_month, partitionBy l_month = yyyymm of
    l_shipdate) — the physical design that makes date-driven joins
    eligible for DYNAMIC PARTITION PRUNING: when a query joins this
    table on l_month against a filtered dim, Catalyst injects the
    dim's month set as a runtime partition filter
    (PartitionFilters: [dynamicpruning#...]) and the scan never
    opens the other ~80 month directories. Same atomic tmp+rename
    protocol and in-memory fallback as the other .derived
    artifacts; narrow schema (month, extendedprice, discount) so
    the demo measures pruning, not width."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _LIMONTH_CACHE:
        _touch_pin("li_month")
        return _LIMONTH_CACHE[key]
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "li_month")
    before = _rdd_snap(spark)

    def _build():
        li = _t(spark, sf_dir)["lineitem"]
        return li.select(
            (F.year("l_shipdate") * 100
             + F.month("l_shipdate")).cast("int").alias("l_month"),
            "l_extendedprice", "l_discount")

    try:
        if not os.path.isdir(base):
            tmp = base + f".tmp{os.getpid()}"
            (_build().write.mode("overwrite").partitionBy("l_month")
             .parquet(tmp))
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        out = spark.read.parquet(base)
    except Exception:  # pragma: no cover — read-only checkout etc.
        out = _build().transform(_lc)
    _pin_new(spark, before, "li_month", _LIMONTH_CACHE, key)
    _LIMONTH_CACHE[key] = out
    return out


_INT8_CACHE: dict[tuple[int, str], DataFrame] = {}


def _int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline int8 code table, built ONCE per scale factor and
    materialized to .derived/<sf>/int8 — so ``topk_int8``'s candidate
    stage scans the 4×-smaller code parquet instead of quantizing the
    full-width float column inline on every query (round-6 VERDICT:
    the ``prebuilt_qz`` seam existed but q152 still paid quantization
    per call, so the memory trade was only realized in tests; the
    reference's Milvus index likewise lives outside the query,
    milvus_store.py:56-110). Same atomic tmp+rename protocol as
    ``_ivf``; in-memory fallback on read-only checkouts. Returns the
    resident (vec_id, qvec, scale, dequant_cos) frame."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _INT8_CACHE:
        _touch_pin("int8")
        return _INT8_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "int8")
    try:
        if not os.path.isdir(base):
            qz = similarity.quantize_int8(_t(spark, sf_dir)["embeddings"],
                                          id_col="vec_id")
            tmp = base + f".tmp{os.getpid()}"
            qz.write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        qz = spark.read.parquet(base).persist()
        qz.count()
    except Exception:  # pragma: no cover — read-only checkout etc.
        qz = similarity.quantize_int8(_t(spark, sf_dir)["embeddings"],
                                      id_col="vec_id").transform(_lc)
    _pin_new(spark, before, "int8", _INT8_CACHE, key)
    _INT8_CACHE[key] = qz
    return qz


_INT8C_CACHE: dict[tuple[int, str, int], DataFrame] = {}


def _int8_cells(spark: SparkSession, sf_dir: str, nlist: int = 16
                ) -> DataFrame:
    """Offline int8-codes-by-IVF-cell artifact (.derived/<sf>/int8c):
    the `_int8_codes` table joined with the `_ivf` coarse assignment
    and written partitionBy("cell") — so `topk_ivf_int8`'s probe-cell
    IN filter is static partition pruning on a codes scan that is
    already 4× smaller than the float column (FAISS keeps IVF_SQ8
    lists contiguous per cell for the same reason). Atomic
    tmp+rename; in-memory fallback on read-only checkouts."""
    import os
    import shutil

    key = (id(spark), sf_dir, nlist)
    if key in _INT8C_CACHE:
        _touch_pin("int8c")
        return _INT8C_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, f"int8c{nlist}")

    def _build() -> DataFrame:
        _, assigned = _ivf(spark, sf_dir, nlist=nlist)
        return _int8_codes(spark, sf_dir).select("vec_id", "qvec") \
            .join(assigned.select("vec_id", "cell"), "vec_id")

    try:
        if not os.path.isdir(base):
            tmp = base + f".tmp{os.getpid()}"
            _build().write.mode("overwrite").partitionBy("cell") \
                .parquet(tmp)
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        cc = spark.read.parquet(base)
    except Exception:  # pragma: no cover — read-only checkout etc.
        cc = _build().transform(_lc)
    _pin_new(spark, before, "int8c", _INT8C_CACHE, key)
    _INT8C_CACHE[key] = cc
    return cc


_PQ_CACHE: dict[tuple[int, str, int, int], tuple[DataFrame, DataFrame]] = {}


def _pq(spark: SparkSession, sf_dir: str, nlist: int = 16, m: int = 8):
    """Offline IVF-PQ artifacts, built ONCE per scale factor: the m×ksub
    codebooks plus the per-vector codes JOINED WITH their coarse cell
    and written partitionBy("cell") to .derived/<sf>/pq — so
    ``ivfpq_topk``'s probe-cell IN filter is static partition pruning
    on the codes scan (FAISS keeps IVFADC lists contiguous per cell for
    the same reason). Atomic tmp+rename; in-memory fallback on
    read-only checkouts. Returns (codebooks, codes_with_cell)."""
    import os
    import shutil

    key = (id(spark), sf_dir, nlist, m)
    if key in _PQ_CACHE:
        _touch_pin(f"pq:{key[2:]}")
        return _PQ_CACHE[key]
    before = _rdd_snap(spark)
    cents, assigned = _ivf(spark, sf_dir, nlist=nlist)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, f"pq{nlist}m{m}")

    def _build():
        emb = _t(spark, sf_dir)["embeddings"]
        books = similarity.pq_codebooks(emb, dim=64, m=m, ksub=16,
                                        id_col="vec_id")
        codes = similarity.pq_encode(emb, books, dim=64, m=m,
                                     id_col="vec_id")
        return books, codes.join(assigned.select("vec_id", "cell"), "vec_id")

    try:
        if not os.path.isdir(base):
            books, codes_cell = _build()
            tmp = base + f".tmp{os.getpid()}"
            books.write.mode("overwrite").parquet(
                os.path.join(tmp, "codebooks"))
            (codes_cell.write.mode("overwrite").partitionBy("cell")
             .parquet(os.path.join(tmp, "codes")))
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        books = spark.read.parquet(os.path.join(base, "codebooks")).persist()
        books.count()
        codes_cell = spark.read.parquet(os.path.join(base, "codes"))
    except Exception:  # pragma: no cover — read-only checkout etc.
        books, codes_cell = _build()
        books = books.transform(_lc)
        codes_cell = codes_cell.transform(_lc)
    _pin_new(spark, before, f"pq:{key[2:]}", _PQ_CACHE, key)
    _PQ_CACHE[key] = (books, codes_cell)
    return books, codes_cell


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q01_filter_sort_page(spark, sf):
    """QuerySpec compiler: filters + multi-key sort + offset pagination
    (SURVEY §2.2/§2.5; query_language.py:378-400)."""
    t = _t(spark, sf)
    spec = (QuerySpec("orders")
            .filter("o_orderstatus", "eq", "O")
            .filter("o_totalprice", "between", [1000.0, 50000.0])
            .sort("o_totalprice", ascending=False).sort("o_orderkey")
            .page(5, 20)
            .select("o_orderkey", "o_totalprice"))
    return compile_query(t["orders"], spec)


def q02_filter_ops(spark, sf):
    """Filter-operator registry: in / contains / gte / ends_with
    (filter_processor.py:51-73)."""
    t = _t(spark, sf)
    spec = (QuerySpec("customer")
            .filter("c_mktsegment", "in", ["BUILDING", "AUTOMOBILE"])
            .filter("c_name", "contains", "1")
            .filter("c_acctbal", "gte", 0.0)
            .filter("c_name", "ends_with", "5")
            .select("c_custkey", "c_name", "c_acctbal"))
    return compile_query(t["customer"], spec)


def q03_pricing_summary(spark, sf):
    """Aggregation compiler: grouped sum/avg/count with exact decimal
    sums (filter_processor.py:494-616). Flagship query."""
    t = _t(spark, sf)
    li = t["lineitem"]
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q04_group_key(spark, sf):
    """group_by with "|"-joined composite key, null→"null"
    (filter_processor.py:584-616)."""
    t = _t(spark, sf)
    return group_count(t["orders"], ["o_orderstatus", "o_orderpriority"])


def q05_doc_coverage(spark, sf):
    """Coverage analytics: per-source counts + content-length stats
    (enhanced_mcp_endpoint.py:1278-1361)."""
    t = _t(spark, sf)
    return (
        t["documents"].groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_chars").alias("min_len"),
             F.max("n_chars").alias("max_len"),
             F.round(F.avg("n_chars"), 4).alias("avg_len"))
    )


def q06_monthly_events(spark, sf):
    """Evolution/time-bucket analytics (enhanced_mcp_endpoint.py:1336)."""
    t = _t(spark, sf)
    return monthly_counts(t["events"], "ts", ["event_type"])


def q07_outliers_iqr(spark, sf):
    """IQR outlier detection, exact percentiles
    (insight_discovery.py:1793-1822)."""
    t = _t(spark, sf)
    return iqr_outliers(t["orders"], "o_totalprice").select("o_orderkey")


def q08_neighbors(spark, sf):
    """1-hop neighbors, both directions (sqlite_storage.py:434-488)."""
    t = _t(spark, sf)
    return graph.neighbors(_edges(spark, sf), ["n_5"])


def q09_khop(spark, sf):
    """k-hop BFS with min hop_distance (sqlite_storage.py:662-699).
    Runs over the DIRECTED edge cache: each hop is one scan of it
    filtered by the driver-held frontier on either endpoint (no
    symmetrized view is built). The largest frontier it expands, the
    706 ids reached at hop 2 on sf0.1, stays under
    graph.LITERAL_FRONTIER_IDS, so all three hops take that path."""
    return graph.k_hop(_edges(spark, sf), ["c_1"], max_depth=3)


def q10_degree_hubs(spark, sf):
    """Degree computation / hub detection (insight_discovery.py:1499-1577)."""
    t = _t(spark, sf)
    return (
        graph.degrees(_edges(spark, sf))
        .orderBy(F.col("degree").desc(), F.col("node_id").asc())
        .limit(20)
        .select("node_id", F.col("out_degree").cast("long").alias("out_degree"),
                F.col("in_degree").cast("long").alias("in_degree"),
                F.col("degree").cast("long").alias("degree"))
    )


def q11_temporal_pairs(spark, sf):
    """TEMPORAL_PROXIMITY discovery: same-user event pairs within 1h,
    confidence max(0.5, 1-Δt/3600) (relationship_extractor.py:349-369).
    Equi-join on user_id (the blocking key) + range predicate — never a
    cross join."""
    t = _t(spark, sf)
    e = t["events"].select("event_id", "user_id", F.unix_micros("ts").alias("us"))
    a = e.select(F.col("event_id").alias("event_a"), "user_id", F.col("us").alias("us_a"))
    b = e.select(F.col("event_id").alias("event_b"), "user_id", F.col("us").alias("us_b"))
    dt = F.abs(F.col("us_a") - F.col("us_b")) / F.lit(1_000_000.0)
    return (
        a.join(b, "user_id")
        .filter(F.col("event_a") < F.col("event_b"))
        .withColumn("dt", dt).filter(F.col("dt") < 3600.0)
        .select("event_a", "event_b",
                F.round(F.greatest(F.lit(0.5), 1.0 - F.col("dt") / 3600.0), 6)
                .alias("confidence"))
    )


def q12_dedup_exact(spark, sf):
    """Exact duplicate groups by normalized-content hash (dedup suite;
    merge survivor = min id, merging.py:17-111)."""
    t = _t(spark, sf)
    return (
        dedup.exact_duplicate_groups(t["part"], "p_type", "p_partkey")
        .select("content_hash", "n_dups", "keep_id")
    )


def q13_jaccard_pairs(spark, sf):
    """Exact n-gram Jaccard near-dup pairs (SIMILAR_CONTENT threshold
    semantics, relationship_extractor.py:251-258; dedup suite).

    EXACTNESS TRADE: uncapped shingle groups make the pair join
    quadratic per duplicated shingle — correct, and fine at this
    corpus's duplication level, but on a 100 TB web corpus the benched
    shape is q81_jaccard_capped (max_shingle_freq=50), which bounds
    every shingle group's fan-out at C(50,2) pairs and treats
    hot shingles as stop-shingles (SCALING.md)."""
    t = _t(spark, sf)
    return dedup.ngram_jaccard_pairs(t["documents"], "text", "doc_id",
                                     n=3, threshold=0.3)


def q81_jaccard_capped(spark, sf):
    """Skew-guarded n-gram Jaccard: shingles occurring in more than 50
    documents are dropped as stop-shingles BEFORE the pair join, then
    the Jaccard is EXACT over the surviving shingle sets (sizes are
    post-filter on both engines, so the scores are oracle-checkable).
    This is the 100 TB default: group fan-out is bounded at C(50,2)
    pairs per shingle regardless of corpus duplication, while q13
    keeps the uncapped exact semantics."""
    t = _t(spark, sf)
    return dedup.ngram_jaccard_pairs(t["documents"], "text", "doc_id",
                                     n=3, threshold=0.3,
                                     max_shingle_freq=50)


def q14_minhash_neardup(spark, sf):
    """MinHash+LSH near-dup, exact-Jaccard verified (dedup suite).
    md5-portable hash draws + plain comma-joined band keys, so the FULL
    pipeline (signature → banding → candidate join → verify) is
    oracle-checked in DuckDB, not rows-only."""
    t = _t(spark, sf)
    return dedup.minhash_md5_neardup(t["documents"], "text", "doc_id",
                                     threshold=0.3, num_hashes=64, bands=32)


def q15_simhash_neardup(spark, sf):
    """64-bit SimHash near-dup with 8×8-bit chunk blocking (dedup suite).
    Carried as 2×32-bit md5 words so the whole sketch is oracle-checked
    (pigeonhole guarantees exact recall for hamming ≤ 7)."""
    t = _t(spark, sf)
    return dedup.simhash64_md5_neardup(t["documents"], "text", "doc_id",
                                       max_hamming=6)


def q16_knn_cosine(spark, sf):
    """Brute-force cosine top-k (embedding_manager.py:308-329)."""
    t = _t(spark, sf)
    qv = [float(x) for x in t["embeddings"].filter("vec_id = 0").first()["embedding"]]
    return (
        similarity.topk_brute(t["embeddings"], qv, k=10, id_col="vec_id")
        .select("vec_id", F.round("score", 6).alias("score"))
    )


def q17_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup pair join, label-blocked
    (merging.py:66-77 gate generalized)."""
    t = _t(spark, sf)
    return (
        similarity.neardup_pairs(t["embeddings"], threshold=0.4, id_col="vec_id",
                                 bucket_col="label")
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def q18_text_stats(spark, sf):
    """Text-analysis suite: token counts, ratios, quality, fingerprint
    (result_ranker.py:228-264,413-436 + pipeline extensions)."""
    t = _t(spark, sf)
    return (
        text.text_stats(t["documents"], "text", "doc_id")
        .select("doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.col("n_regex_tokens").cast("long").alias("n_regex_tokens"),
                "avg_word_len", "punct_ratio", "stopword_ratio", "quality",
                "fingerprint")
    )


def q19_lang_id(spark, sf):
    """Marker-word language ID (text suite)."""
    t = _t(spark, sf)
    return t["documents"].select("doc_id", text.language_id(F.col("text")).alias("lang_guess"))


def q20_rating_update(spark, sf):
    """Evidence-based rating update formula
    (rating_system.py:61-91): new = clamp01(0.5 + 0.2·conf − 0.2·contra)
    with conf/contra = per-user purchase/error fractions."""
    t = _t(spark, sf)
    per_user = t["events"].groupBy("user_id").agg(
        (F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         / F.count(F.lit(1))).alias("conf"),
        (F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
         / F.count(F.lit(1))).alias("contra"),
    )
    return per_user.select(
        "user_id",
        F.round(clamp01(F.lit(0.5) + 0.2 * F.col("conf") - 0.2 * F.col("contra")), 6)
        .alias("new_rating"),
    )


def q21_search_ranking(spark, sf):
    """Multi-criteria ranked search: relevance (word-Jaccard×2 cap 1.0,
    result_ranker.py:228-245) + quality, weights 0.4/0.3 normalized
    (result_ranker.py:542-568), top 20."""
    t = _t(spark, sf)
    query = "spark join filter stream"
    score = combined_score(
        {"relevance": relevance_score(F.col("text"), query),
         "quality": quality_score(F.col("text"))},
        {"relevance": 0.4, "quality": 0.3},
    )
    return (
        t["documents"]
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def q22_top_orders_per_cust(spark, sf):
    """Per-entity top-k via ranking window (top-k semantics of
    embedding_manager.py:308-329 applied relationally)."""
    from pyspark.sql.window import Window
    t = _t(spark, sf)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        t["orders"].filter(F.col("o_custkey") < 100)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rk").cast("long").alias("rk"))
    )


def q23_shortest_path(spark, sf):
    """Unweighted shortest path (sqlite_storage.py:571-616)."""
    t = _t(spark, sf)
    d = graph.shortest_path_length(_edges(spark, sf), "c_1", "r_0", max_hops=6)
    return spark.createDataFrame(
        [("c_1", "r_0", d)], "src string, dst string, hops int")


def q24_induced_subgraph(spark, sf):
    """Induced subgraph over {customers of nation 0} ∪ {their orders}
    (enhanced_mcp_endpoint.py:234-263)."""
    t = _t(spark, sf)
    edges = _edges(spark, sf)
    custs = t["customer"].filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c_"), F.col("c_custkey")).alias("node_id"))
    ords = (t["orders"]
            .join(t["customer"].filter(F.col("c_nationkey") == 0),
                  F.col("o_custkey") == F.col("c_custkey"), "left_semi")
            .select(F.concat(F.lit("o_"), F.col("o_orderkey")).alias("node_id")))
    return (graph.induced_subgraph(edges, custs.unionByName(ords))
            .select("from_id", "to_id", "relation_type"))


def q25_same_source_pairs(spark, sf):
    """SAME_SOURCE relationship discovery, confidence 0.7
    (relationship_extractor.py:326-347)."""
    t = _t(spark, sf)
    return discovery.same_source(t["documents"], "source", "doc_id")


def q26_similar_tags(spark, sf):
    """SIMILAR_TAGS discovery: tag-set Jaccard > threshold
    (relationship_extractor.py:241-264). Tags derived as sorted distinct
    long tokens; scoped to doc_id < 100 to keep the correctness compare
    small (the operator itself is unbounded)."""
    t = _t(spark, sf)
    docs = t["documents"].filter(F.col("doc_id") < 100)
    tagged = docs.select(
        "doc_id",
        F.concat_ws(",", F.array_sort(F.array_distinct(F.filter(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), " "),
            lambda x: F.length(x) >= 5)))).alias("tags"))
    return discovery.similar_tags(tagged, "tags", "doc_id", threshold=0.6)


def q27_term_cooccurrence(spark, sf):
    """Frequency-pattern detection: co-occurring term pairs ≥ 3 docs
    (insight_discovery.py:202-245)."""
    t = _t(spark, sf)
    return synthesis.term_cooccurrence(t["documents"], "text", "doc_id",
                                       min_count=3)


def q28_daily_trend(spark, sf):
    """Trend analysis: regr_slope + growth rate over daily counts
    (insight_discovery.py:1062-1183)."""
    t = _t(spark, sf)
    return synthesis.monthly_trend(t["events"], "ts", bucket="yyyy-MM-dd")


def q29_sudden_changes(spark, sf):
    """Sudden-change detection between consecutive buckets
    (insight_discovery.py:1307-1344)."""
    t = _t(spark, sf)
    return synthesis.sudden_changes(t["events"], "ts", bucket="yyyy-MM-dd HH",
                                    jump_ratio=0.2)


def q30_bursts(spark, sf):
    """Temporal burst anomalies: ≥10 events per minute window
    (insight_discovery.py:1652-1734)."""
    t = _t(spark, sf)
    return synthesis.temporal_bursts(t["events"], "ts", "event_id",
                                     burst_window_s=60, min_burst=10)


def q31_gaps(spark, sf):
    """Temporal gap anomalies: inter-event gap ≥ 300 s
    (insight_discovery.py:1652-1734)."""
    t = _t(spark, sf)
    return synthesis.temporal_gaps(t["events"], "ts", min_gap_s=300,
                                   tiebreak="event_id")


def q32_contradictions(spark, sf):
    """Heuristic contradiction pairs (enhanced_mcp_endpoint.py:587-681,
    889-951): topic Jaccard ≥ 0.7 with exactly one negated side."""
    t = _t(spark, sf)
    return synthesis.detect_contradictions(t["documents"], "text", "doc_id",
                                           topic_overlap=0.7)


def q33_extract_units(spark, sf):
    """Knowledge-unit extraction, deterministic rule-based provider
    (advanced_extractor.py:51-193): sentence spans ≥ 20 chars with
    importance = min(len/100, 1)."""
    t = _t(spark, sf)
    units = ingestion.extract_units(t["documents"], "text", "source")
    return units.select("content", "source", "importance")


def q34_quality_histogram(spark, sf):
    """Quality-score analytics: 5-bin histogram of the composite quality
    score (enhanced_mcp_endpoint.py:1426-1497)."""
    from memory_engine_spark.operators.aggregates import quality_histogram
    t = _t(spark, sf)
    scored = t["documents"].select(quality_score(F.col("text")).alias("q"))
    return (quality_histogram(scored, "q", bins=5)
            .select(F.col("bin").cast("long").alias("bin"), "n"))


def q35_components(spark, sf):
    """Connected components over the n-gram-Jaccard similarity graph
    (similarity groups, insight_discovery.py:429-487; QA subgraph
    overlap-merge, question_answering.py:433-471)."""
    from memory_engine_spark.operators.components import connected_components
    t = _t(spark, sf)
    pairs = dedup.ngram_jaccard_pairs(t["documents"], "text", "doc_id",
                                      n=3, threshold=0.3)
    edges = pairs.select(F.col("a").cast("string").alias("from_id"),
                         F.col("b").cast("string").alias("to_id"))
    return connected_components(edges)


def q36_ivf_knn(spark, sf):
    """IVF-FLAT ANN top-k (Milvus IVF_FLAT analogue, milvus_store.py:
    56-110): coarse-quantized probe of nprobe cells. The index is built
    OFFLINE once per scale factor and materialized partitioned by cell
    (.derived/<sf>/ivf), so the query pays only centroid scoring +
    a partition-pruned scan of the probed cells. Deterministic first-k
    seeding makes the index SQL-reproducible → fully oracle-checked."""
    cents, assigned = _ivf(spark, sf, nlist=16)
    emb = _t(spark, sf)["embeddings"]
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return (similarity.topk_ivf(assigned, cents, qv, k=10, nprobe=8,
                                id_col="vec_id")
            .select("vec_id", F.round("score", 6).alias("score")))


def q37_source_reliability(spark, sf):
    """Per-source reliability report (quality/source_reliability.py):
    0.6·avg_quality + 0.2·consistency + 0.2·volume."""
    from memory_engine_spark.operators.quality import source_reliability
    t = _t(spark, sf)
    scored = t["documents"].withColumn(
        "q", F.least(F.col("n_chars") / 500.0, F.lit(1.0)))
    return source_reliability(scored, "source", "q", "doc_id")


def q38_cross_validate(spark, sf):
    """Cross-validation (quality/cross_validation.py): claims (normalized
    p_type) corroborated by ≥ 3 distinct brands."""
    from memory_engine_spark.operators.quality import cross_validate
    t = _t(spark, sf)
    return cross_validate(t["part"], "p_type", "p_brand", "p_partkey",
                          min_sources=3)


def q39_relationship_metrics(spark, sf):
    """Relationship analytics: per-type counts, avg confidence, graph
    density (enhanced_mcp_endpoint.py:1363-1424)."""
    from memory_engine_spark.operators.aggregates import relationship_metrics
    return relationship_metrics(_edges(spark, sf))


def q40_rating_correlations(spark, sf):
    """Correlation patterns between numeric dimensions
    (insight_discovery.py:376-427)."""
    from memory_engine_spark.operators.aggregates import rating_correlations
    t = _t(spark, sf)
    return rating_correlations(
        t["lineitem"], ["l_quantity", "l_extendedprice", "l_discount"])


def q41_semantic_suggestions(spark, sf):
    """SEMANTICALLY_SIMILAR edge suggestion: per-node top-k embedding
    neighbors over a threshold (relationship_extractor.py:617-712)."""
    return discovery.semantically_similar(
        _t(spark, sf)["embeddings"], k=3, threshold=0.3,
        id_col="vec_id", bucket_col="label")


def q42_autocorrelation(spark, sf):
    """Cyclical-pattern detection: lag-1 autocorrelation of daily counts
    (insight_discovery.py:1243-1305)."""
    t = _t(spark, sf)
    return synthesis.autocorrelation(t["events"], "ts", lag=1)


def q43_behavioral_anomalies(spark, sf):
    """Behavioral anomalies: users whose event volume is > 2σ from the
    mean (insight_discovery.py:1736-1791)."""
    t = _t(spark, sf)
    return synthesis.behavioral_anomalies(t["events"], "user_id",
                                          z_threshold=2.0)


def q44_date_range(spark, sf):
    """date_range filter op with string→timestamp coercion
    (filter_processor.py:408-424,259-280)."""
    t = _t(spark, sf)
    spec = (QuerySpec("orders")
            .filter("o_orderdate", "date_range",
                    ["1996-03-01 00:00:00", "1996-06-15 00:00:00"])
            .filter("o_orderpriority", "starts_with", "1")
            .select("o_orderkey", "o_custkey"))
    return compile_query(t["orders"], spec)


def q45_simhash32(spark, sf):
    """32-bit md5-SimHash near-dup pairs — the one-word form of q15's
    sketch, built from cross-engine-identical primitives so the WHOLE
    sketch pipeline (token hash → bit votes → pack → chunk-blocked
    hamming join) is oracle-checked, not rows-only."""
    t = _t(spark, sf)
    return dedup.simhash32_neardup(t["documents"], "text", "doc_id",
                                   max_hamming=3)


# One fixed question per reference question type (question_answering.py
# :23-34); phrased over the synthetic corpus vocabulary so evidence is
# non-empty. Keywords are derived by qa.parse_question and inlined into
# BOTH the Spark plan and the DuckDB oracle.
QA_QUESTIONS = [
    ("factual", "what is the spark hash join table"),
    ("comparative", "compare the sort merge join versus the hash join"),
    ("causal", "why does the filter cause data movement in the shuffle"),
    ("procedural", "how to sort and group the stream batch"),
    ("temporal", "when did the window stream order arrive"),
    ("definitional", "define the meaning of the vector column"),
    ("relational", "relationship between the customer and the order table"),
    ("analytical", "patterns in the slow query scan data"),
]


def q50_qa_evidence(spark, sf):
    """QA distributed evidence gathering (question_answering.py:539-608):
    relevance-scored top-k for a causal question with the causal-marker
    column the typed synthesizer (:684-705) selects on."""
    t = _t(spark, sf)
    parsed = qa.parse_question(QA_QUESTIONS[2][1])
    ev = qa.relevant_nodes(t["documents"], parsed, text_col="text",
                           id_col="doc_id", top_k=20)
    return ev.select("doc_id", "relevance", "has_causal")


def q51_qa_confidence(spark, sf):
    """Per-type QA answer confidence (question_answering.py:820-841):
    for one question of each of the 8 types, the evidence count and the
    synthesized-answer confidence (0.6·avg relevance + corroboration
    boosts + 0.2·high-quality fraction, cap 0.95). The doc frame is
    spread first: the single-file scan otherwise feeds all 8 scoring
    branches (tokenize + 3 marker regexes each) through ONE task —
    measured 5.2 s warm on one core at sf0.1 (the _media_docs
    single-partition-feeder lesson, caught when round 8's
    full-registry bench first timed this query)."""
    from memory_engine_spark.operators.dedup import _spread

    docs = _spread(_t(spark, sf)["documents"])
    parsed_list = []
    for qtype, question in QA_QUESTIONS:
        parsed = qa.parse_question(question)
        assert parsed.qtype == qtype, (qtype, parsed.qtype)
        parsed_list.append(parsed)
    # ONE corpus scan for all 8 questions (r08 verdict item 4): the
    # question dim broadcasts, per-type top-20 prunes two-phase, and
    # one groupBy replaces 8 independent jobs. A type with zero
    # evidence must still emit its n=0/0.1 row, so the agg
    # left-joins back onto the type dim.
    ev = qa.relevant_nodes_multi(docs, parsed_list, "text", "doc_id",
                                 top_k=20)
    agg = ev.groupBy("qtype").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("relevance").alias("avg_rel"),
        F.sum(F.when(F.col("relevance") > 0.7, 1).otherwise(0)).alias("nhq"))
    dim = spark.createDataFrame([(t,) for t, _ in QA_QUESTIONS],
                                "qtype string")
    joined = dim.join(F.broadcast(agg), "qtype", "left")
    n = F.coalesce(F.col("n"), F.lit(0))
    conf = F.when(n == 0, F.lit(0.1)).otherwise(F.least(
        F.col("avg_rel") * 0.6
        + F.when(n >= 3, 0.2).when(n >= 2, 0.1).otherwise(0.0)
        + F.col("nhq") / n * 0.2,
        F.lit(0.95)))
    return joined.select(
        "qtype",
        n.cast("long").alias("n_evidence"),
        F.round(conf, 6).alias("confidence"))


def q52_contradiction_resolution(spark, sf):
    """Contradiction resolution engine (contradiction_resolution.py:
    23-53,283-309,452-486): temporal-proximity event pairs become
    'temporal'-type contradiction cases; severity = type base +
    0.2·confidence + capped content importance; resolution =
    temporal_preference (most recent side wins, fixed 0.7 confidence).
    One distributed pass — no per-case Python."""
    from memory_engine_spark.operators import resolution

    t = _t(spark, sf)
    e = t["events"].select("event_id", "user_id", "ts",
                           F.unix_micros("ts").alias("us"),
                           F.length("event_type").alias("el"))
    a = e.select(F.col("event_id").alias("a"), "user_id",
                 F.col("ts").alias("ts_a"), F.col("us").alias("us_a"),
                 F.col("el").alias("el_a"))
    b = e.select(F.col("event_id").alias("b"), "user_id",
                 F.col("ts").alias("ts_b"), F.col("us").alias("us_b"),
                 F.col("el").alias("el_b"))
    dt = F.abs(F.col("us_a") - F.col("us_b")) / F.lit(1_000_000.0)
    pairs = (a.join(b, "user_id").filter(F.col("a") < F.col("b"))
             .withColumn("dt", dt).filter(F.col("dt") < 3600.0))
    conf = F.greatest(F.lit(0.5), 1.0 - F.col("dt") / 3600.0)
    score = resolution.severity_score(F.lit("temporal"), conf,
                                      F.col("el_a") + F.col("el_b"))
    pairs = (pairs.withColumn("severity_score", F.round(score, 6))
             .withColumn("severity", resolution.severity_level(score)))
    out = resolution.resolve_contradictions(
        pairs, "temporal_preference", keep=("severity_score", "severity"))
    return out.select("a", "b", "severity_score", "severity", "status",
                      "preferred", "resolution_confidence")


# Labeled perspective fixture (pid, topic, text, claims, evidence) used
# by q53 on BOTH engines: Spark builds it with createDataFrame, the
# oracle with a VALUES CTE — same rows, so classification + consensus
# are fully hash-checked against a known labeling.
PERSPECTIVE_FIXTURE = [
    ("p1", "caching", "caching improves read latency and supports the warm path",
     "cache speeds reads", "n1,n2,n3"),
    ("p2", "caching", "however caching contradicts strict freshness requirements",
     "cache breaks freshness", "n2,n4"),
    ("p3", "caching", "alternatively use write through instead of caching",
     "write through is safer", "n5"),
    ("p4", "storage", "experts believe columnar storage wins for analytics",
     "columnar wins analytics", "n6,n7"),
    ("p5", "storage", "the framework model for storage is a paradigm",
     "row storage fits oltp", "n8"),
    ("p6", "storage", "columnar storage wins for analytics scans",
     "columnar wins analytics", "n6,n7"),
    ("p7", "solo", "a single perspective with no markers",
     "nothing to compare", "n9"),
]


def q53_perspective_types(spark, sf):
    """Perspective typing + per-topic consensus
    (perspective_analysis.py:22-42,116-172,1083-1143,1280-1309): classify
    each perspective into the 6 types by indicator keywords, then score
    per-topic consensus from average pairwise similarity (0.5·viewpoint
    Jaccard + 0.3·claims + 0.2·evidence overlap − type penalty)."""
    from memory_engine_spark.operators import perspectives as pers

    df = spark.createDataFrame(
        PERSPECTIVE_FIXTURE,
        "pid string, topic string, text string, claims string, evidence string")
    typed = df.withColumn("ptype", pers.classify_perspective(F.col("text")))
    cmp = pers.compare_perspectives(typed, "topic", "text", "pid",
                                    type_col="ptype", claims_col="claims",
                                    evidence_col="evidence")
    return (typed.select("pid", "topic", "ptype").join(cmp, "topic")
            .select("pid", "topic", "ptype", "n_perspectives",
                    "avg_similarity", "consensus_level"))


def q54_quality_content_dimension(spark, sf):
    """Graded content-quality dimension (quality_assessment.py:140-325,
    389-400): the five component analyzers (length curve, structure,
    richness, clarity, completeness), their mean, and the 5-level grade
    — one distributed projection over documents."""
    from memory_engine_spark.operators.quality import content_dimension
    t = _t(spark, sf)
    return content_dimension(t["documents"], "text", "doc_id")


def q55_quality_structural_dimension(spark, sf):
    """Graded structural-quality dimension (quality_assessment.py:
    455-570): per-node connectivity curve, mean relationship quality,
    in/out-balance centrality, and type-diversity grade over the derived
    edge graph — one union + one groupBy."""
    from memory_engine_spark.operators.quality import structural_dimension
    return structural_dimension(_edges(spark, sf))


def q56_gopher_filter(spark, sf):
    """Gopher §A1.1 document-quality gate (public pre-training filter
    suite): per-doc word/line/symbol/stopword signals + keep flag — one
    projection over documents."""
    t = _t(spark, sf)
    return text.gopher_filter(t["documents"], "text", "doc_id")


def q57_repetition_stats(spark, sf):
    """Gopher repetition filters: duplicate-line fractions (pure
    expressions) + top-2-gram char coverage (explode + groupBy +
    window top-1)."""
    t = _t(spark, sf)
    return text.repetition_stats(t["documents"], "text", "doc_id", ngram=2)


def q58_decontamination(spark, sf):
    """Train/benchmark decontamination (the GPT-3-style n-gram collision
    rule): docs outside source src0 sharing ≥1 rolling 8-token
    fingerprint with the src0 'benchmark' slice. Fingerprint equi-join;
    benchmark side broadcasts."""
    t = _t(spark, sf)
    docs = t["documents"]
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return text.decontaminate(train, bench, "text", "doc_id", window=8)


def q59_sessionize(spark, sf):
    """Gap-based sessionization (30-min gap) + per-session stats —
    lag + running-sum windows, one shuffle (operators/temporal.py)."""
    from memory_engine_spark.operators import temporal
    t = _t(spark, sf)
    sess = temporal.sessionize(t["events"], "user_id", "ts",
                               gap_s=1800.0, id_col="event_id")
    return (temporal.session_stats(sess, "user_id", "ts")
            .select("user_id", "session_id", "n_events", "duration_s"))


def q60_asof_join(spark, sf):
    """As-of join (backward, per-user): each click event picks up the
    user's latest error value at-or-before it. Union-and-carry plan —
    one shuffle, no join; the oracle is DuckDB's NATIVE ASOF JOIN."""
    from memory_engine_spark.operators import temporal
    t = _t(spark, sf)
    e = t["events"]
    clicks = (e.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    errors = (e.filter(F.col("event_type") == "error")
              .select("user_id", "ts", "value"))
    out = temporal.asof_join(clicks, errors, "user_id", "ts",
                             value_cols=["value"])
    return out.select("event_id", "user_id", F.col("value").alias("error_value"),
                      F.unix_micros("matched_ts").alias("matched_us"))


def q61_range_join(spark, sf):
    """Range (interval-containment) join via bucket decomposition: click
    events inside any 30-minute window opened by an error event —
    equi-join on the time bucket + exact BETWEEN refine, never a cross
    join."""
    from memory_engine_spark.operators import temporal
    t = _t(spark, sf)
    e = t["events"]
    points = (e.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "ts"))
    intervals = (e.filter(F.col("event_type") == "error")
                 .select(F.col("event_id").alias("interval_id"),
                         F.col("ts").alias("start_ts"),
                         (F.timestamp_micros(F.unix_micros("ts")
                                             + 1800 * 1_000_000))
                         .alias("end_ts")))
    out = temporal.range_join(points, intervals, "ts", "start_ts", "end_ts",
                              bucket_s=1800.0)
    return out.select("click_id", "interval_id")


def q62_rollup_cascade(spark, sf):
    """Hypertable-style rollup cascade: hour → day → month aggregates
    where each coarser level re-aggregates the finer one (raw scanned
    once); exact decimal value sums."""
    from memory_engine_spark.operators import temporal
    t = _t(spark, sf)
    out = temporal.rollup_cascade(t["events"], "ts", ["event_type"],
                                  ["hour", "day", "month"], value_col="value")
    return out.select(
        "resolution",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"))


def q63_bm25(spark, sf):
    """Okapi BM25 ranked search over documents for a fixed term set —
    filtered explode + broadcast corpus stats, top-20."""
    from memory_engine_spark.operators.ranking import bm25_scores
    t = _t(spark, sf)
    return (bm25_scores(t["documents"], "text", "doc_id",
                        ["spark", "join", "filter", "stream"])
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(20))


# PII fixture shared with the q64 oracle (VALUES CTE on the DuckDB side)
PII_FIXTURE = [
    ("d1", "contact alice.smith@example.com or call +1 (555) 123-4567 now"),
    ("d2", "server at 192.168.10.25 logged card 4111111111111111 today"),
    ("d3", "nothing sensitive in this line at all"),
]


def q64_pii_redaction(spark, sf):
    """C4-style PII scrubbing: redact emails / phones / IPv4 / long
    numbers and count matches per kind — pure regexp expressions over a
    labeled fixture so the redaction output itself is hash-checked."""
    df = spark.createDataFrame(PII_FIXTURE, "doc_id string, body string")
    return df.select(
        "doc_id",
        text.redact_pii(F.col("body")).alias("redacted"),
        F.col("body").alias("original"),
    ).select("doc_id", "redacted",
             text.pii_counts(F.col("original")).alias("c")) \
     .select("doc_id", "redacted", "c.email", "c.phone", "c.ip", "c.number")


def q65_hash_split(spark, sf):
    """Deterministic train/val/test split by md5 id hash (stable across
    runs/partitions/engines) + per-split counts."""
    t = _t(spark, sf)
    split = text.hash_split(t["documents"], "doc_id")
    return (split.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
            .select("split", F.col("n_docs").cast("long").alias("n_docs")))


def q66_dedup_clusters(spark, sf):
    """Corpus-level near-dup CLUSTERING: Jaccard pairs → connected
    components → deterministic canonical doc per cluster (longest text,
    tie → min doc_id). The step a training pipeline runs after any pair
    generator; singletons stay as their own cluster (merging.py
    keep-one semantics lifted to corpus level)."""
    t = _t(spark, sf)
    docs = t["documents"]
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                      n=3, threshold=0.3)
    return dedup.neardup_clusters(docs, pairs, "doc_id", F.length("text"))


def q67_knn_join(spark, sf):
    """Corpus-wide ANN kNN JOIN: top-5 cosine neighbors for EVERY
    vector, IVF-blocked (nprobe=2 of 16 cells) — N·nprobe/nlist
    candidates per query instead of N². Probe lists are window ranks
    (no driver collect); exact cosine within probed cells; the
    deterministic first-k-seed index makes it fully oracle-checkable."""
    cents, assigned = _ivf(spark, sf, nlist=16)
    return (similarity.knn_join(assigned, cents, k=5, nprobe=2,
                                id_col="vec_id")
            .select("qid", "nid", "nn_rank",
                    F.round("score", 6).alias("score")))


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.02


def q68_stratified_sample(spark, sf):
    """Deterministic hash-stratified corpus sampling (recipe-style data
    mixing): per-source keep rates applied via content-independent id
    hashing, so the SAME ids survive on any engine/partitioning.
    Reports per-source survivor count + id checksum."""
    t = _t(spark, sf)
    kept = corpus.stratified_sample(t["documents"], "source", _MIX_RATES,
                                    "doc_id", salt="sample",
                                    default_rate=_MIX_DEFAULT)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_checksum")))


def q69_pack_sequences(spark, sf):
    """GPT-style concat-and-chunk sequence packing layout (budget=512
    tokens, 8 hash shards): per-doc start offset, sequence id, offset
    within sequence, and sequences spanned — computed with a two-phase
    distributed prefix sum (within-shard windows + an n_shards-row base
    table), never a single-partition global window."""
    t = _t(spark, sf)
    docs = t["documents"]
    return corpus.pack_sequences(
        docs, F.size(dedup.tokens(F.col("text"))), budget=512,
        id_col="doc_id", n_shards=8, salt="pack")


def q70_vocabulary(spark, sf):
    """Corpus vocabulary with smoothed idf: top-100 terms by frequency
    (tie → lexicographic), scikit-style idf = ln((N+1)/(df+1)) + 1."""
    t = _t(spark, sf)
    return (corpus.vocabulary(t["documents"], "text", "doc_id", top_k=100)
            .select("term", F.col("tf").cast("long").alias("tf"),
                    F.col("doc_freq").cast("long").alias("doc_freq"), "idf"))


def q71_quantize_int8(spark, sf):
    """Per-vector symmetric int8 embedding quantization (4× compression
    for ANN candidate generation): scale = max|v|/127, plus the
    dequantized-vs-original cosine as a per-row quality audit."""
    t = _t(spark, sf)
    q = similarity.quantize_int8(t["embeddings"], id_col="vec_id")
    return q.select(
        "vec_id", F.round("scale", 6).alias("scale"),
        F.aggregate("qvec", F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long")).alias("sum_q"),
        F.size(F.filter("qvec", lambda x: x != 0)).cast("long").alias("nnz"),
        F.round("dequant_cos", 6).alias("dequant_cos"))


def q72_chunk_tokens(spark, sf):
    """Document → fixed-token-window chunks with overlap (chunk 64,
    overlap 8): the context-window-bounded explosion feeding
    training/RAG pipelines. Row-local flatMap — no shuffle; per-chunk
    md5 keeps the checked output narrow."""
    t = _t(spark, sf)
    return (text.chunk_tokens(t["documents"], "text", "doc_id",
                              chunk_size=64, overlap=8)
            .select("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens",
                    F.md5("chunk_text").alias("chunk_md5")))


def q73_pq_topk(spark, sf):
    """Product-quantization ANN (FAISS-style ADC): 64-dim vectors →
    8 subspaces × 16 deterministic first-k-seeded centroids; encoded
    corpus is 8 bytes/vector; query scoring is a broadcast LUT join +
    decimal sum — no per-candidate vector arithmetic. Fully
    oracle-checkable."""
    emb = _t(spark, sf)["embeddings"]
    books = similarity.pq_codebooks(emb, dim=64, m=8, ksub=16,
                                    id_col="vec_id")
    codes = similarity.pq_encode(emb, books, dim=64, m=8, id_col="vec_id")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return (similarity.pq_topk(codes, books, qv, k=10, m=8, id_col="vec_id")
            .select("vec_id", F.round("approx_dist", 6).alias("approx_dist")))


_PR_CACHE: dict[tuple[int, str], tuple[DataFrame, DataFrame, int]] = {}


def _pr_index(spark: SparkSession, sf_dir: str, layout: str = "from"):
    """Offline pagerank index (graph.pagerank_prepare): the
    out-degree-weighted edge list + node set, materialized ONCE per
    scale factor to .derived/<sf>/pagerank (same atomic tmp+rename
    protocol as _edges/_ivf) and session-cached in BOTH hash layouts —
    ``layout="from"`` (from_id-partitioned: the shuffle regime and
    q97's sparse-frontier PPR joins) and ``layout="to"``
    (to_id-partitioned: pagerank's broadcast regime, where the
    per-iteration groupBy(to_id) is then exchange-free). Two resident
    layouts of one |E|-row list is the classic secondary-index
    trade — at 100 TB you materialize only the layout your regime
    uses. Returns the (weighted, nodes, n) triple for ``layout``."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _PR_CACHE:
        _touch_pin("pagerank")
        return _PR_CACHE[key][layout]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "pagerank")
    n_parts = spark.sparkContext.defaultParallelism
    try:
        if not os.path.isdir(base):
            weighted, nodes, _n = graph.pagerank_prepare(
                _edges(spark, sf_dir), directed=False)
            tmp = base + f".tmp{os.getpid()}"
            weighted.write.mode("overwrite").parquet(
                os.path.join(tmp, "weighted"))
            nodes.write.mode("overwrite").parquet(os.path.join(tmp, "nodes"))
            weighted.unpersist()
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        raw = spark.read.parquet(os.path.join(base, "weighted"))
        w_from = raw.repartition(n_parts, F.col("from_id")).persist()
        w_to = raw.repartition(n_parts, F.col("to_id")).persist()
        w_from.count()
        w_to.count()
        nodes = spark.read.parquet(os.path.join(base, "nodes"))
        nodes = nodes.transform(_lc)
        n = nodes.count()
    except Exception:  # pragma: no cover — read-only checkout etc.
        w_from, nodes, n = graph.pagerank_prepare(
            _edges(spark, sf_dir), directed=False)
        w_to = (w_from.repartition(n_parts, F.col("to_id")).persist())
        w_to.count()
    _pin_new(spark, before, "pagerank", _PR_CACHE, key)
    _PR_CACHE[key] = {"from": (w_from, nodes, n),
                      "to": (w_to, nodes, n)}
    return _PR_CACHE[key][layout]


def q74_pagerank(spark, sf):
    """Structural importance via fixed-iteration PageRank (5 power
    iterations, d=0.85, undirected view of the derived edge graph) —
    the eigenvector upgrade of q10's degree-hub ranking. The weighted
    edge index is built OFFLINE (.derived/<sf>/pagerank, _pr_index,
    to_id layout); at this |V| the BROADCAST regime runs — each of
    the 5 iterations is one exchange-free stage (rank vector
    broadcast, map-side weighted join, partial+final sum already
    partitioned on to_id). Ranks are reported normalized (rank × N,
    uniform = 1.0) and the top-30 order uses the ROUNDED rank so
    mathematical ties (structurally twin nodes) break by node_id
    identically on any engine."""
    prebuilt = _pr_index(spark, sf, layout="to")
    ranks = graph.pagerank(None, damping=0.85, n_iter=5, directed=False,
                           prebuilt=prebuilt)
    n = ranks.count()
    return (ranks.select("node_id",
                         F.round(F.col("rank") * F.lit(float(n)), 6)
                         .alias("rank_norm"))
            .orderBy(F.col("rank_norm").desc(), F.col("node_id").asc())
            .limit(30))


def q75_ivfpq_topk(spark, sf):
    """IVF-PQ with exact re-rank (FAISS IVFADC): coarse cells prune to
    ~N·nprobe/nlist candidates, the 8-byte PQ codes ADC-score the
    survivors from a broadcast LUT, and only the top-50 approximate
    candidates touch their full float vectors. The composition of
    q36's coarse index and q73's codebooks — at 100 TB this is the ANN
    path where neither the vectors nor the candidates ever fully
    shuffle. Codes and assignment live partitioned by cell in .derived
    (the offline-index pattern), so the probe's IN filter is static
    partition pruning on both the codes and the re-rank scans."""
    emb = _t(spark, sf)["embeddings"]
    cents, assigned = _ivf(spark, sf, nlist=16)
    books, codes = _pq(spark, sf, nlist=16, m=8)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return similarity.ivfpq_topk(assigned, cents, codes, books, qv, k=10,
                                 nprobe=4, m=8, rerank=50, id_col="vec_id")


def q76_revenue_by_nation(spark, sf):
    """TPC-H Q5-shape star join: lineitem⋈orders⋈customer⋈supplier⋈
    nation⋈region, one year of orders, one region, revenue by nation.
    The join-planning showcase: dimension sides carry explicit
    broadcast hints (region/nation/supplier are tiny at any SF), the
    date filter pushes to the orders parquet scan, and the only
    shuffles left are fact⋈fact (lineitem⋈orders, ⋈customer) plus the
    final 25-group aggregate. Revenue accumulates in DECIMAL so the
    value hash is partition-order-stable."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q77_hll_distinct(spark, sf):
    """Portable HyperLogLog (functions/sketch.py): distinct customers
    per order priority estimated from 256 md5-seeded registers — the
    same registers on any engine, so the SKETCH itself is
    oracle-checked, not just eyeballed. Exact distinct rides along to
    exhibit the error; at 100 TB only the sketch path survives (m-byte
    state, map-side combinable, no shuffle of the distinct values)."""
    t = _t(spark, sf)
    est = sketch.hll_count_distinct(t["orders"], "o_custkey",
                                    group_cols=["o_orderpriority"], p=8)
    exact = (t["orders"].groupBy("o_orderpriority")
             .agg(F.countDistinct("o_custkey").cast("long").alias("exact")))
    return (est.join(exact, "o_orderpriority")
            .select("o_orderpriority", "hll_estimate", "exact",
                    F.round(F.abs(F.col("hll_estimate") - F.col("exact"))
                            / F.col("exact"), 4).alias("rel_err"))
            .orderBy("o_orderpriority"))


def q46_passage_overlap(spark, sf):
    """Passage-overlap detection via rolling fingerprints (winnowing-
    style, text suite): doc pairs sharing ≥ 3 rolling 8-token window
    md5 fingerprints — near-exact passage reuse, blocked on the
    fingerprint itself."""
    from memory_engine_spark.operators.dedup import _materialize_release

    t = _t(spark, sf)
    docs = t["documents"]
    # Persist the fingerprint frame: it feeds BOTH join sides, and
    # without the pin each side re-tokenizes and re-md5s the corpus
    # (the q194 branch re-derivation lesson — caught when round 8's
    # full-registry bench first timed this query: 7.7 s → ~4 s).
    fp = docs.select(
        F.col("doc_id").alias("_id"),
        F.explode(F.array_distinct(
            text.rolling_fingerprints(F.col("text"), window=8)))
        .alias("fp")).persist()
    a = fp.select(F.col("_id").alias("a"), "fp")
    b = fp.select(F.col("_id").alias("b"), "fp")
    out = (a.join(b, "fp").filter(F.col("a") < F.col("b"))
           .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
           .filter(F.col("n_shared") >= 3))
    return _materialize_release(out, fp)


def q47_merge_semantics(spark, sf):
    """Merge set-operations (§2.6, merging.py:127-175): per brand, the
    sorted set-union of all type words (tag-union semantics) and the
    element-wise max of prices (ratings-max semantics)."""
    t = _t(spark, sf)
    words = F.split(F.col("p_type"), " ")
    return (
        t["part"].groupBy("p_brand")
        .agg(F.concat_ws(",", F.array_sort(F.array_distinct(
                 F.flatten(F.collect_list(words))))).alias("merged_tags"),
             F.max("p_retailprice").alias("max_price"),
             F.count(F.lit(1)).alias("n_parts"))
    )


def q48_content_scan(spark, sf):
    """Content substring scan with limit (find_nodes_by_content,
    sqlite_storage.py:619-660: LIKE %q% + LIMIT)."""
    t = _t(spark, sf)
    spec = (QuerySpec("documents")
            .filter("text", "contains", "window")
            .filter("lang", "eq", "en")
            .sort("doc_id")
            .page(0, 50)
            .select("doc_id", "source"))
    return compile_query(t["documents"], spec)


def q49_relation_chains(spark, sf):
    """Hierarchy/sequence chain patterns (insight_discovery.py:289-374):
    typed-edge chains (placed→contains: customer→order→part), projected
    to distinct (start, end, length) triples for the oracle."""
    edges = _edges(spark, sf).filter(
        F.col("relation_type").isin(["placed", "contains"]))
    chains = synthesis.relation_chains(edges, ["placed", "contains"], max_len=3)
    return (chains.select(F.element_at("path", 1).alias("start"),
                          F.element_at("path", -1).alias("end"),
                          F.col("length").cast("long").alias("length"))
            .distinct())


def q78_cms_heavy_hitters(spark, sf):
    """Portable count-min sketch (functions/sketch.py): the top-20
    customers by order count have their frequencies read out of a
    4x2048 md5-hashed counter grid that is identical on any engine, so
    the SKETCH values are under oracle check. Exact counts ride along
    to exhibit the one-sided error (estimate >= exact always). At
    100 TB only the sketch path survives: d*w counters leave the map
    stage regardless of input size, vs a full shuffle of every
    distinct key for exact heavy hitters."""
    t = _t(spark, sf)
    exact = (t["orders"].groupBy("o_custkey")
             .agg(F.count(F.lit(1)).cast("long").alias("exact")))
    top = (exact.orderBy(F.col("exact").desc(), F.col("o_custkey").asc())
           .limit(20)
           .select(F.col("o_custkey").cast("string").alias("item"), "exact"))
    est = sketch.cms_estimate(t["orders"], "o_custkey",
                              top.select("item"), d=4, w=2048)
    return (est.join(top, "item")
            .select("item", "cms_estimate", "exact",
                    (F.col("cms_estimate") - F.col("exact"))
                    .cast("long").alias("overestimate"))
            .orderBy(F.col("exact").desc(), F.col("item").asc()))


def q79_triangles(spark, sf):
    """Exact triangle census (graph.triangle_count) of the
    part-co-occurrence graph: parts are adjacent when some order
    contains both. Degree-oriented wedge join (Schank & Wagner, WEA
    2005) — every wedge is generated at its lowest-degree corner, the
    skew bound that survives power-law graphs — then a left-semi
    closure join. The graph build itself is an equi-join on orderkey,
    never a cross join."""
    li = (_t(spark, sf)["lineitem"]
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk")).distinct())
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.ok") == F.col("b.ok"))
                    & (F.col("a.pk") < F.col("b.pk")))
             .select(F.col("a.pk").alias("from_id"),
                     F.col("b.pk").alias("to_id"))
             .distinct())
    return graph.triangle_count(pairs)


def q80_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (corpus.weighted_sample, A-ES with md5 draws): 50 documents drawn
    proportionally to n_chars. The exponential keys are portable, so
    the SELECTED SET is oracle-checked — same sample on any engine,
    any partitioning, any retry. Plan is a projection +
    TakeOrderedAndProject (per-partition top-k heaps); the corpus is
    never shuffled and no RNG state exists."""
    docs = _t(spark, sf)["documents"].select("doc_id", "n_chars")
    samp = corpus.weighted_sample(docs, "n_chars", 50, "doc_id",
                                  salt="aes")
    return samp.orderBy("doc_id")


def q82_content_gaps(spark, sf):
    """Content-gap report over the documents corpus, topic = source
    (gap_detection.py:150-330): per topic, which expected content types
    (definition/example/cause/effect/process/comparison) have no
    indicator anywhere, with the reference's severity rules and
    priority formula. One groupBy + O(topics) explode."""
    t = _t(spark, sf)
    return (quality.content_gaps(t["documents"], "text", "source")
            .orderBy("topic", "missing_type"))


def q83_depth_gaps(spark, sf):
    """Depth-gap detection (gap_detection.py:392-464): per-document
    depth score from length / sentence-complexity / detail-indicator /
    technical-token factors; documents under 0.4 reported with
    priority 0.5+0.3·score. Pure scan-filter Column algebra."""
    t = _t(spark, sf)
    return (quality.depth_gaps(t["documents"], "text", "doc_id",
                               threshold=0.4)
            .orderBy("doc_id"))


def q84_line_dedup(spark, sf):
    """CCNet-style corpus-wide duplicate-line removal (dedup.dedup_lines,
    Wenzek et al. LREC 2020): documents are deterministically re-lined
    into 8-word rows (the corpus ships newline-free), then every line
    whose trimmed form appears in ≥2 distinct documents is dropped from
    ALL of them — the boilerplate-stripping step of a pretraining
    pipeline. Output carries md5(text) instead of the rebuilt body so
    the oracle hashes stay compact; n_lines/n_dropped expose the
    per-document effect."""
    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(8.0)).cast("int")
    relined = docs.select(
        "doc_id",
        F.concat_ws("\n", F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i * 8 + 1, 8))))
        .alias("text"))
    out = dedup.dedup_lines(relined, "text", "doc_id",
                            min_dup=2, min_line_chars=1)
    return (out.select("doc_id", F.md5("text").alias("text_hash"),
                       "n_lines", "n_dropped")
            .orderBy("doc_id"))


def q85_semdedup(spark, sf):
    """SemDeDup semantic dedup (dedup.semdedup, Abbas et al. 2023):
    IVF-FLAT clusters (16 first-k centroids, reused from the OFFLINE
    .derived index — the same artifact q36/q67/q75 probe), members
    ranked by centroid similarity ascending, dropped when an
    earlier-ranked same-cluster member is cosine-≥0.35-similar.
    Rounded floats keep the cross-engine hash stable; is_kept is the
    consumable signal."""
    emb = _t(spark, sf)["embeddings"]
    out = dedup.semdedup(emb, threshold=0.35, nlist=16,
                         id_col="vec_id", vec_col="embedding",
                         prebuilt_ivf=_ivf(spark, sf, nlist=16))
    return (out.select("vec_id", "cell",
                       F.round("centroid_sim", 6).alias("centroid_sim"),
                       F.round("max_prior_sim", 6).alias("max_prior_sim"),
                       "is_kept")
            .orderBy("vec_id"))


_DSIR_CACHE: dict[tuple[int, str], DataFrame] = {}


def _dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline DSIR feature table (corpus.dsir_features): the hashed
    unigram+bigram (doc_id, bucket) explosion of the documents corpus,
    materialized ONCE per scale factor to .derived/<sf>/dsir8192 and
    session-cached. Feature extraction is ingest-time work in a real
    pipeline (like embedding generation); materializing it makes q86
    pay two bucket counts + one broadcast join per call instead of a
    full tokenize+md5 scan."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _DSIR_CACHE:
        _touch_pin("dsir")
        return _DSIR_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "dsir8192")
    try:
        if not os.path.isdir(dest):
            tmp = dest + f".tmp{os.getpid()}"
            corpus.dsir_features(
                _t(spark, sf_dir)["documents"], "text", "doc_id",
                n_buckets=8192).write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, dest)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        df = spark.read.parquet(dest).persist()
    except Exception:  # pragma: no cover — read-only checkout etc.
        df = corpus.dsir_features(_t(spark, sf_dir)["documents"],
                                  "text", "doc_id",
                                  n_buckets=8192).persist()
    df.count()
    _pin_new(spark, before, "dsir", _DSIR_CACHE, key)
    _DSIR_CACHE[key] = df
    return df


def q86_dsir_weights(spark, sf):
    """DSIR importance weights (corpus.dsir_importance, Xie et al.
    NeurIPS 2023): hashed unigram+bigram log-ratio scores of every
    document against the English-language target slice, over the
    OFFLINE feature table (_dsir_feats — ingest-time work, like the
    pagerank/LPA indexes; target features = the same table semi-joined
    to the English doc ids, so nothing tokenizes twice). Per-bucket
    log-ratios quantize to BIGINT micro-units (floor(x*1e6+0.5), pure
    double arithmetic) and sum as BIGINT, so the weight is
    order-independent and carries no decimal-ROUND divergence (the
    r03/r04 driver-gate flap came from dp-rounding ln() outputs).
    Resampling = feed log_weight to corpus.weighted_sample (q80)."""
    docs = _t(spark, sf)["documents"]
    feats = _dsir_feats(spark, sf)
    en_ids = docs.filter(F.col("lang") == "en") \
        .select(F.col("doc_id").alias("_id"))
    tgt_feats = feats.join(F.broadcast(en_ids), "_id", "left_semi")
    out = corpus.dsir_importance(
        docs, None, "text", "doc_id", n_buckets=8192, smoothing=1.0,
        feats=feats, target_feats=tgt_feats)
    return out.orderBy("doc_id")


def q87_substring_dedup(spark, sf):
    """Exact-substring dedup (dedup.substring_dedup, Lee et al. ACL
    2022 ExactSubstr): every token inside a ≥20-token span duplicated
    across ≥2 docs is removed, via hot-window broadcast + per-doc
    running-max coverage. md5(text) keeps the oracle rows compact."""
    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    out = dedup.substring_dedup(docs, "text", "doc_id",
                                window=20, min_dup=2)
    return (out.select("doc_id", F.md5("text").alias("text_hash"),
                       "n_tokens", "n_removed")
            .orderBy("doc_id"))


def q88_lm_perplexity(spark, sf):
    """CCNet-style LM quality scoring (corpus.bigram_perplexity,
    Wenzek et al. LREC 2020): add-k bigram model trained on the
    English slice, every document scored by cross-entropy / ppl.
    Hashed-bucket tokens and BIGINT micro-unit log-prob sums keep the
    model and the scores oracle-checkable without decimal-ROUND
    divergence."""
    docs = _t(spark, sf)["documents"]
    out = corpus.bigram_perplexity(
        docs, docs.filter(F.col("lang") == "en"), "text", "doc_id",
        n_buckets=65536, smoothing=0.1)
    return out.orderBy("doc_id")


def q89_bloom_membership(spark, sf):
    """Portable Bloom filter (functions/sketch.bloom_build/probe):
    bitmap over BUILDING-segment customer keys, probed by every order.
    The audit proves the no-false-negative contract (n_maybe ≥
    n_members) and surfaces the FP count; the whole bitmap is
    SQL-reproducible so even the word array hashes identically."""
    t = _t(spark, sf)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    bloom = sketch.bloom_build(cust, "c_custkey", m_bits=65536, k=4)
    probed = sketch.bloom_probe(t["orders"].select("o_custkey"),
                                "o_custkey", bloom, m_bits=65536, k=4)
    members = (cust.select(F.col("c_custkey").alias("o_custkey"))
               .distinct().withColumn("is_member", F.lit(True)))
    return (probed.join(members, "o_custkey", "left")
            .agg(F.count(F.lit(1)).alias("n_probed"),
                 F.sum(F.col("maybe").cast("long")).alias("n_maybe"),
                 F.sum(F.col("is_member").isNotNull().cast("long"))
                 .alias("n_members"),
                 F.sum((F.col("maybe") & F.col("is_member").isNull())
                       .cast("long")).alias("n_false_positives")))


_ADJ_CACHE: dict[tuple[int, str], DataFrame] = {}


def _sym_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached symmetrized adjacency, hash-partitioned on
    from_id and persisted — the shared iterative-graph input (LPA and
    friends), amortized across calls exactly like _pr_index."""
    key = (id(spark), sf_dir)
    if key not in _ADJ_CACHE:
        before = _rdd_snap(spark)
        n_parts = spark.sparkContext.defaultParallelism
        adj = (graph.symmetrize(
            _edges(spark, sf_dir).select("from_id", "to_id"))
            .repartition(n_parts, F.col("from_id")).persist())
        adj.count()
        _pin_new(spark, before, "sym_adj", _ADJ_CACHE, key)
        _ADJ_CACHE[key] = adj
    _touch_pin("sym_adj")
    return _ADJ_CACHE[key]


_WADJ_CACHE: dict[tuple[int, str], DataFrame] = {}


def _weighted_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached SYMMETRIZED weighted adjacency (from_id, to_id,
    _w) partitioned on from_id — the weighted-graph ingest artifact
    weighted-traversal queries (q96 SSSP) relax against. The weight is
    the derived graph's deterministic relation-type function (same
    formula as the q96 oracle); at ingest a real deployment stores
    edge weights exactly like this, so queries pay only the |V|-row
    distance-vector shuffle per relaxation round."""
    key = (id(spark), sf_dir)
    if key in _WADJ_CACHE:
        _touch_pin("weighted_adj")
        return _WADJ_CACHE[key]
    before = _rdd_snap(spark)
    n_parts = spark.sparkContext.defaultParallelism
    base = _edges(spark, sf_dir).select(
        "from_id", "to_id",
        (((F.length("relation_type") % 7) + 1) / F.lit(10.0)).alias("_w"))
    sym = base.unionByName(
        base.select(F.col("to_id").alias("from_id"),
                    F.col("from_id").alias("to_id"), "_w"))
    adj = sym.repartition(n_parts, "from_id").persist()
    adj.count()
    _pin_new(spark, before, "weighted_adj", _WADJ_CACHE, key)
    _WADJ_CACHE[key] = adj
    return adj


_DIR_ADJ_CACHE: dict[tuple[int, str], dict] = {}


def _dir_adj(spark: SparkSession, sf_dir: str) -> dict:
    """Session-cached DIRECTED adjacency in both hash layouts
    (from_id- and to_id-partitioned) plus the distinct node set —
    what directed iterative algorithms (HITS) consume: each round's
    edge-side join then reuses a resident partitioning and only the
    |V|-row score vector shuffles. The _pr_index secondary-layout
    trade for the unweighted directed graph; source is the already-
    derived edge parquet, so no .derived artifact of its own."""
    key = (id(spark), sf_dir)
    if key in _DIR_ADJ_CACHE:
        _touch_pin("dir_adj")
        return _DIR_ADJ_CACHE[key]
    before = _rdd_snap(spark)
    n_parts = spark.sparkContext.defaultParallelism
    base = _edges(spark, sf_dir).select("from_id", "to_id")
    a_from = base.repartition(n_parts, "from_id").persist()
    a_to = base.repartition(n_parts, "to_id").persist()
    nodes = (base.select(F.col("from_id").alias("node_id"))
             .unionByName(base.select(F.col("to_id").alias("node_id")))
             .distinct().transform(_lc))
    a_from.count()
    a_to.count()
    _pin_new(spark, before, "dir_adj", _DIR_ADJ_CACHE, key)
    _DIR_ADJ_CACHE[key] = {"from": a_from, "to": a_to, "nodes": nodes}
    return _DIR_ADJ_CACHE[key]


_AA_CACHE: dict[tuple[int, str], dict] = {}


def _aa_index(spark: SparkSession, sf_dir: str) -> dict:
    """Offline Adamic–Adar wedge index (graph.adamic_adar_prepare,
    max_hub_degree=50): ``nb`` (apex, BIGINT addend, neighbor)
    partitioned on the apex so the wedge self-join is exchange-free,
    and ``canon`` (distinct undirected edges) partitioned on (u, v) so
    the existing-edge anti-join reuses the pair aggregate's
    partitioning. Materialized once per scale factor to
    .derived/<sf>/aa50 (atomic tmp+rename, same protocol as _lpa_prep)
    and session-cached — the three |E|-scale build shuffles move to
    ingest time, the query pays only wedge self-join + aggregate."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _AA_CACHE:
        _touch_pin("aa50")
        return _AA_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "aa50")
    n_parts = spark.sparkContext.defaultParallelism
    try:
        if not os.path.isdir(base):
            prep = graph.adamic_adar_prepare(
                _edges(spark, sf_dir), max_hub_degree=50)
            tmp = base + f".tmp{os.getpid()}"
            prep["nb"].write.mode("overwrite").parquet(
                os.path.join(tmp, "nb"))
            prep["canon"].write.mode("overwrite").parquet(
                os.path.join(tmp, "canon"))
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        nb = (spark.read.parquet(os.path.join(base, "nb"))
              .repartition(n_parts, "w").persist())
        canon = (spark.read.parquet(os.path.join(base, "canon"))
                 .repartition(n_parts, "u", "v").persist())
    except Exception:  # pragma: no cover — read-only checkout etc.
        prep = graph.adamic_adar_prepare(
            _edges(spark, sf_dir), max_hub_degree=50)
        nb = prep["nb"].repartition(n_parts, "w").persist()
        canon = prep["canon"].repartition(n_parts, "u", "v").persist()
    nb.count()
    canon.count()
    _pin_new(spark, before, "aa50", _AA_CACHE, key)
    _AA_CACHE[key] = {"nb": nb, "canon": canon, "max_hub_degree": 50}
    return _AA_CACHE[key]


_LPA_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def _lpa_prep(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Offline LPA index (graph.lpa_prepare): the order-preserving
    dense id map + int-encoded symmetrized adjacency, materialized to
    .derived/<sf>/lpa once per scale factor (same atomic tmp+rename
    protocol as _edges) and session-cached with the adjacency
    re-partitioned on the per-round grouping key. Makes q90's cold
    path a parquet read instead of a global-sort rebuild."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _LPA_CACHE:
        _touch_pin("lpa")
        return _LPA_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "lpa")
    n_parts = spark.sparkContext.defaultParallelism
    try:
        if not os.path.isdir(base):
            prep = graph.lpa_prepare(
                _edges(spark, sf_dir).select("from_id", "to_id"))
            tmp = base + f".tmp{os.getpid()}"
            prep["ids"].write.mode("overwrite").parquet(
                os.path.join(tmp, "ids"))
            prep["adj"].write.mode("overwrite").parquet(
                os.path.join(tmp, "adj"))
            prep["ids"].unpersist()
            prep["adj"].unpersist()
            try:
                os.rename(tmp, base)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        ids = spark.read.parquet(os.path.join(base, "ids")).persist()
        adj = (spark.read.parquet(os.path.join(base, "adj"))
               .repartition(n_parts, "src").persist())
    except Exception:  # pragma: no cover — read-only checkout etc.
        prep = graph.lpa_prepare(
            _edges(spark, sf_dir).select("from_id", "to_id"))
        ids, adj = prep["ids"], prep["adj"]
    ids.count()
    adj.count()
    _pin_new(spark, before, "lpa", _LPA_CACHE, key)
    _LPA_CACHE[key] = {"ids": ids, "adj": adj, "directed": False}
    return _LPA_CACHE[key]


def prepare_indexes(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build/load EVERY offline index and named session cache for one
    scale factor, eagerly: derived edges, IVF cells, PQ codebooks,
    pagerank weighted-edge index, LPA dictionary index, symmetrized
    adjacency. The reference pays these at INGEST time (JanusGraph
    adjacency, Milvus IVF build happen on insert, not per query);
    bench.py calls this before the timed section so per-query numbers
    measure query plans, not one-time ETL — and so a hygiene pass can
    snapshot the set of persistent RDDs that must survive inter-query
    cache cleanup. Returns {index_name: build_or_load_seconds}."""
    import time as _time

    out: dict[str, float] = {}
    for name, fn in [
        ("tables", lambda: _t(spark, sf_dir)),
        ("edges", lambda: _edges(spark, sf_dir)),
        ("ivf16", lambda: _ivf(spark, sf_dir, nlist=16)),
        ("pq16_8", lambda: _pq(spark, sf_dir, nlist=16, m=8)),
        ("pagerank", lambda: _pr_index(spark, sf_dir)),
        ("lpa", lambda: _lpa_prep(spark, sf_dir)),
        ("sym_adj", lambda: _sym_adj(spark, sf_dir)),
        ("dsir", lambda: _dsir_feats(spark, sf_dir)),
        ("knn_graph", lambda: _knn_graph(spark, sf_dir)),
        ("aa50", lambda: _aa_index(spark, sf_dir)),
        ("dir_adj", lambda: _dir_adj(spark, sf_dir)),
        ("weighted_adj", lambda: _weighted_adj(spark, sf_dir)),
        ("hnsw16", lambda: _hnsw_index(spark, sf_dir)),
        ("probe_feats", lambda: _probe_feats(spark, sf_dir)),
        ("int8", lambda: _int8_codes(spark, sf_dir)),
        ("int8c", lambda: _int8_cells(spark, sf_dir, nlist=16)),
    ]:
        t0 = _time.time()
        fn()
        out[name] = round(_time.time() - t0, 3)
    return out


def q90_label_propagation(spark, sf):
    """Deterministic synchronous LPA communities after the reference
    5 rounds (graph.label_propagation, broadcast regime over the
    .derived int-encoded index): dictionary-encoded ids + per-round
    label broadcast make each round ONE exchange-free stage of two
    long-keyed HashAggregates, so the full 5-round shape fits the 5 s
    budget (the r03 bench ran 2 rounds to fit — the workload-shrinking
    lever the verdict flagged). Oracle = the same 5 rounds unrolled as
    SQL CTEs (generated below, like the pagerank oracle)."""
    return (graph.label_propagation(None, n_iter=5,
                                    prepared=_lpa_prep(spark, sf))
            .orderBy("node_id"))


def q91_hdr_quantiles(spark, sf):
    """Order-price P50/P95/P99 per priority from the portable
    log-bucketed quantile sketch (sketch.hdr_quantiles, HdrHistogram
    idea): ≤1% relative error at scale=100, per-group state a few
    hundred bucket rows — the latency-percentile structure that
    replaces a full sort at 100 TB, with the ESTIMATE itself under
    oracle check (native approx_percentile can't be)."""
    orders = _t(spark, sf)["orders"]
    return sketch.hdr_quantiles(orders, "o_totalprice",
                                [0.5, 0.95, 0.99],
                                group_cols=["o_orderpriority"], scale=100)


def q92_fuzzy_terms(spark, sf):
    """Misspelling clusters over a noisy corpus vocabulary: all term
    pairs within edit distance 1 via SymSpell deletion-neighborhood
    blocking (text.fuzzy_term_pairs) — candidates from an equi-join on
    deletion keys, never a cross join, verified with exact
    levenshtein. The synthetic corpus has a clean closed vocabulary
    (zero organic misspellings — the r04 vacuous-output finding), so
    the workload simulates an OCR-noisy ingest batch: every 7th doc
    re-emits its ≥3-char tokens with one deterministically chosen
    character dropped (position = 1 + doc_id mod len), and the
    operator clusters the typos back onto their source spellings."""
    docs = _t(spark, sf)["documents"]
    toks = docs.select(F.col("doc_id"),
                       F.explode(dedup.tokens(F.col("text"))).alias("term"))
    pos = F.lit(1) + F.col("doc_id") % F.length("term")
    typos = (toks.filter((F.col("doc_id") % 7 == 0)
                         & (F.length("term") >= 3))
             .select(F.concat(
                 F.substring(F.col("term"), F.lit(1), pos - 1),
                 F.col("term").substr(pos + 1, F.length("term")))
                 .alias("term")))
    vocab = toks.select("term").union(typos)
    return (text.fuzzy_term_pairs(vocab, "term")
            .orderBy("a", "b"))


def q93_zorder_cells(spark, sf):
    """Z-order (Morton) layout audit (functions/layout.zorder_key —
    the Delta/Iceberg OPTIMIZE ZORDER key as a portable expression):
    orders map to a 32-bit z-value over (custkey, order-day); rows
    grouped by the top-10-bit z-cell show each cell spanning a TIGHT
    hyper-rectangle in both dimensions — the property that makes
    min/max pruning work on either predicate after a z-sorted write."""
    from memory_engine_spark.functions import layout
    orders = _t(spark, sf)["orders"]
    days = F.datediff(F.col("o_orderdate").cast("date"),
                      F.to_date(F.lit("1995-01-01")))
    z = layout.zorder_key([F.col("o_custkey"), days], bits=16)
    return (orders.select((z / F.lit(1 << 22)).cast("long").alias("cell"),
                          "o_custkey", days.alias("d"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_custkey").alias("min_cust"),
                 F.max("o_custkey").alias("max_cust"),
                 F.min("d").alias("min_day"),
                 F.max("d").alias("max_day"))
            .orderBy(F.col("n").desc(), F.col("cell").asc())
            .limit(20))


def q94_resample_ffill(spark, sf):
    """Gap-filled 6-hour resampling of per-user event values
    (temporal.resample_ffill — the time_bucket_gapfill /
    pandas-resample-ffill shape): dense per-key slot grid from
    sequence+explode, ONE union-and-carry sort per key, forward-fill
    via last(ignorenulls). Users < 20 keep the oracle bounded."""
    from memory_engine_spark.operators import temporal
    ev = _t(spark, sf)["events"].filter(F.col("user_id") < 20)
    out = temporal.resample_ffill(ev, "user_id", "ts", ["value"],
                                  step_s=21600)
    return (out.select("user_id", "ts", F.round("value", 6).alias("value"))
            .orderBy("user_id", "ts"))


def q95_kcore(spark, sf):
    """Cohesive subgraph via 3 rounds of k-core peeling (k=3,
    graph.k_core over the resident _sym_adj index — per-round state
    is only the survivor id set); oracle = the same rounds unrolled
    as CTEs."""
    return graph.k_core(None, k=3, n_iter=3,
                        prebuilt_adj=_sym_adj(spark, sf)) \
        .orderBy("node_id")


def q96_weighted_sssp(spark, sf):
    """Weighted shortest distances from customer c_1 after 4
    Bellman-Ford rounds (graph.weighted_sssp); edge weight is a
    deterministic function of the relation type so the unrolled SQL
    oracle reproduces every relaxation bit-for-bit. The symmetrized
    weighted adjacency is the resident _weighted_adj ingest artifact,
    so each relax join reuses its partitioning."""
    return (graph.weighted_sssp(None, "c_1", n_iter=4,
                                prebuilt_adj=_weighted_adj(spark, sf))
            .select("node_id", F.round("dist", 6).alias("dist"))
            .orderBy("node_id"))


def q97_personalized_pagerank(spark, sf):
    """Random-walk-with-restart neighborhood ranking from {c_1, s_1}
    (graph.personalized_pagerank, 5 iterations, d=0.85) over the
    offline pagerank index; top 30 by rounded rank. The sparse
    formulation keeps the per-iteration vector at the reached set."""
    prebuilt = _pr_index(spark, sf, layout="from")
    ranks = graph.personalized_pagerank(
        None, ["c_1", "s_1"], damping=0.85, n_iter=5, prebuilt=prebuilt)
    return (ranks.select("node_id", F.round("rank", 6).alias("rank"))
            .orderBy(F.round("rank", 6).desc(), F.col("node_id").asc())
            .limit(30))


def q98_hits(spark, sf):
    """HITS hubs/authorities over the DIRECTED derived graph, 2
    integer rounds (graph.hits) — exact bigint walk counts, so the
    unrolled oracle matches bit-for-bit with no float hazard. Top 30
    authorities, hub score carried alongside. Adjacency comes from the
    resident dual-layout _dir_adj index, so each round's joins reuse a
    resident partitioning and only the score vector shuffles."""
    out = graph.hits(None, n_iter=2, prebuilt_adj=_dir_adj(spark, sf))
    return (out.orderBy(F.col("authority").desc(), F.col("node_id").asc())
            .limit(30))


def q99_stratified_quota_sample(spark, sf):
    """Exactly 5 docs per source, weighted by length without
    replacement (corpus.stratified_weighted_sample — the fixed-quota
    per-source sampler; q68's rate-based sibling only hits quotas in
    expectation). A-ES md5 draws keep the selection engine-portable."""
    docs = _t(spark, sf)["documents"]
    out = corpus.stratified_weighted_sample(
        docs, "source", "n_chars", k=5, id_col="doc_id")
    return out.select("source", "doc_id", "n_chars").orderBy("source", "doc_id")


def q100_tfidf_search(spark, sf):
    """TF-IDF cosine retrieval over documents for the same query as
    q63's BM25 (ranking.tfidf_cosine_search): vector-space scoring
    with FULL-document norms, decimal-stable sums, top 20."""
    from memory_engine_spark.operators.ranking import tfidf_cosine_search
    docs = _t(spark, sf)["documents"]
    return tfidf_cosine_search(docs, "text", "doc_id",
                               ["spark", "join", "filter", "stream"],
                               top_k=20)


def q101_random_walks(spark, sf):
    """node2vec-style walk corpus (graph.random_walks): 2 walks of
    length 4 from each of 5 customers, neighbor choice by smallest
    md5 draw — reproducible on any engine, so the walk corpus itself
    is under oracle check (unrolled per step below)."""
    starts = [f"c_{i}" for i in range(1, 6)]
    return (graph.random_walks(_edges(spark, sf), starts, walk_len=4,
                               walks_per_node=2)
            .orderBy("walk_id"))


def q102_funnel(spark, sf):
    """signup → view → click → purchase funnel per user
    (temporal.funnel): earliest-greedy ordered matching, completed-
    prefix length per user plus journey bounds."""
    from memory_engine_spark.operators import temporal
    ev = _t(spark, sf)["events"]
    return (temporal.funnel(ev, "user_id", "ts", "event_type",
                            ["signup", "view", "click", "purchase"])
            .orderBy("user_id"))


def q103_cohort_retention(spark, sf):
    """Weekly cohort retention triangle (temporal.cohort_retention):
    users bucketed by first-activity week, counted active per later
    week offset."""
    from memory_engine_spark.operators import temporal
    ev = _t(spark, sf)["events"]
    return (temporal.cohort_retention(ev, "user_id", "ts",
                                      period_s=604800)
            .orderBy("cohort", "period_offset"))


def q104_diameter(spark, sf):
    """Diameter lower bound by the double-BFS 2-sweep heuristic
    (graph.diameter_estimate from c_1); oracle = two recursive-CTE
    BFS passes with the same deterministic farthest-node pick.
    Adjacency = the RESIDENT _sym_adj ingest artifact (symmetrized,
    from_id-partitioned) — r06 paid a per-call symmetrize+persist
    build inside the query; the reference stores adjacency at ingest
    (JanusGraph), so the query path should too."""
    return graph.diameter_estimate(None, "c_1", max_depth=12,
                                   prebuilt_adj=_sym_adj(spark, sf))


def q105_rolling_zscore(spark, sf):
    """Per-user rolling z-score anomalies over event values (trailing
    20 rows, |z| > 2.5, synthesis.rolling_zscore_anomalies): decimal-
    exact window sums make the flags engine-portable."""
    ev = _t(spark, sf)["events"]
    return (synthesis.rolling_zscore_anomalies(
        ev, "user_id", "ts", "value", window_rows=20, z_threshold=2.5,
        id_col="event_id")
        .orderBy("user_id", "ts"))


def q106_adamic_adar(spark, sf):
    """Adamic-Adar link prediction (graph.adamic_adar): top-30
    non-adjacent pairs by Σ 1/ln(deg w) over shared neighbors, apex
    degree capped at 50, BIGINT micro-unit addends (exact integer
    sum, no decimal-ROUND divergence). Wedge input comes from the
    offline .derived/<sf>/aa50 index (_aa_index) — the build shuffles
    are ingest-time, the query pays wedge self-join + aggregate."""
    return graph.adamic_adar(None, max_hub_degree=50, top_k=30,
                             prebuilt=_aa_index(spark, sf))


def q108_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail corpus split (corpus.rank_buckets over
    corpus.bigram_perplexity, Wenzek et al. LREC 2020 §4.3): per-LANG
    perplexity terciles with a full (ppl, doc_id) tiebreak so the tile
    assignment is a total order — identical on any engine. head =
    most target-like third; docs with <2 tokens have no perplexity
    and are absent, as in q88."""
    docs = _t(spark, sf)["documents"]
    ppl = corpus.bigram_perplexity(
        docs, docs.filter(F.col("lang") == "en"), "text", "doc_id",
        n_buckets=65536, smoothing=0.1)
    scored = ppl.join(docs.select("doc_id", "lang"), "doc_id")
    out = corpus.rank_buckets(scored.select("doc_id", "lang", "ppl"),
                              "ppl", "lang", "doc_id")
    return out.orderBy("doc_id")


def q109_rrf_fusion(spark, sf):
    """Hybrid retrieval via reciprocal-rank fusion (ranking.rrf_fuse,
    Cormack et al. SIGIR 2009): BM25 (q63) and TF-IDF cosine (q100)
    top-20 lists for the same query, fused as Σ 1/(60+rank) — the
    calibration-free lexical+vector combiner a search stack runs above
    both scorers."""
    from memory_engine_spark.operators.ranking import (bm25_scores,
                                                       rrf_fuse,
                                                       tfidf_cosine_search)
    docs = _t(spark, sf)["documents"]
    terms = ["spark", "join", "filter", "stream"]
    bm = (bm25_scores(docs, "text", "doc_id", terms)
          .orderBy(F.col("score").desc(), F.col("doc_id").asc())
          .limit(20))
    tf = tfidf_cosine_search(docs, "text", "doc_id", terms, top_k=20)
    return rrf_fuse([bm, tf], "doc_id", top_k=20)


def q110_temperature_mixture(spark, sf):
    """Temperature-scaled source mixing (corpus.temperature_mixture,
    Brown et al. 2020 §2.2 / Conneau & Lample 2019 α-sampling): 100
    docs apportioned across sources by n^0.3 largest-remainder quotas,
    drawn per-source by the portable md5 uniform key."""
    docs = _t(spark, sf)["documents"]
    out = corpus.temperature_mixture(docs, "source", "doc_id",
                                     alpha=0.3, k=100, salt="mix")
    return (out.select("doc_id", "source", "n_source", "quota",
                       "draw_rank")
            .orderBy("source", "draw_rank"))


def q107_enhancement_plan(spark, sf):
    """Quality-enhancement orchestration
    (quality.enhancement_plan ← quality_enhancement_engine.py:303-657):
    the four recommendation generators — low graded content score,
    contradiction membership, similarity-isolated documents, and
    low-reliability sources — unioned and ranked by the reference's
    (priority-string, −expected_improvement) key, top 20. Document
    'edges' = the capped n-gram-Jaccard near-dup graph (q81's
    pair generator), so fill_gap flags documents with NO near
    neighbor; contradictions = q32's detector."""
    docs = _t(spark, sf)["documents"]
    pairs = synthesis.detect_contradictions(docs, "text", "doc_id",
                                            topic_overlap=0.7)
    sim = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3,
                                    threshold=0.3, max_shingle_freq=50)
    sim_edges = sim.select(F.col("a").alias("from_id"),
                           F.col("b").alias("to_id"))
    return quality.enhancement_plan(
        docs, sim_edges, pairs.select("a", "b"), "text", "doc_id",
        "source", top_n=20)


def q111_khop_paths(spark, sf):
    """k-hop BFS that also materializes ONE shortest path per reached
    node (graph.k_hop_paths ← enhanced_mcp_endpoint.py:76-172, which
    returns paths alongside nodes-by-distance): depth 2 from c_1 over
    the symmetrized derived graph, ties broken toward the
    lexicographically smallest path (array-min per node, identical
    element-wise list comparison in both engines). The path rides the
    frontier as an array column; output flattens it to a '>'-joined
    string for the hash compare."""
    out = graph.k_hop_paths(_edges(spark, sf), ["c_1"], max_depth=2)
    return (out.select("node_id",
                       F.col("hop_distance").cast("int")
                       .alias("hop_distance"),
                       F.concat_ws(">", "path").alias("path"))
            .orderBy("node_id"))


def q112_pattern_match(spark, sf):
    """Graph pattern matching (graph.match_pattern ←
    enhanced_mcp_endpoint.py:270-345): order nodes that (a) CONTAIN at
    least one part, (b) have at least one supplier, and (c) were
    placed by some customer — one semi-join per required edge type,
    the motif-style conjunctive pattern. Returns matching node ids."""
    edges = _edges(spark, sf)
    nodes = (edges.select(F.col("from_id").alias("node_id"))
             .unionByName(edges.select(F.col("to_id").alias("node_id")))
             .distinct())
    out = graph.match_pattern(
        nodes, edges, F.col("node_id").startswith("o_"),
        required_out=["contains", "supplied_by"],
        required_in=["placed"])
    return out.select("node_id").orderBy("node_id")


def q113_diverse_page(spark, sf):
    """Distributed greedy diversity selection
    (ranking.diversify_topk ← result_ranker.py:570-602): the top-40
    docs by the reference's word-Jaccard relevance to
    'spark join filter stream', then 8 unrolled keep-unless-similar
    rounds (Jaccard ≥ 0.7 to a kept row drops a candidate) — the
    reference's driver-side O(page²) loop re-expressed as k tiny
    dataflow rounds, so it is oracle-unrollable like pagerank/LPA."""
    from memory_engine_spark.operators.ranking import diversify_topk
    docs = _t(spark, sf)["documents"]
    return (diversify_topk(docs, "text", "doc_id",
                           "spark join filter stream",
                           k=8, top_n=40, max_similarity=0.7)
            .orderBy("picked_round"))


_KNNG_CACHE: dict[tuple[int, str], DataFrame] = {}


def _knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline symmetrized kNN graph (similarity.knn_join k=8 over the
    IVF cell index, plus NSW reverse links), materialized ONCE per
    scale factor to .derived/<sf>/knng8 and session-cached — the
    corpus-wide neighbor graph a training pipeline builds at ingest
    for semantic dedup AND graph-ANN search (q114's beam rounds then
    pay only frontier-sized joins, never the N·nprobe/nlist build)."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _KNNG_CACHE:
        _touch_pin("knn_graph")
        return _KNNG_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "knng8")

    def _build():
        cents, assigned = _ivf(spark, sf_dir, nlist=16)
        g = similarity.knn_join(assigned, cents, k=8, nprobe=2,
                                id_col="vec_id").select("qid", "nid")
        return g.unionByName(g.select(F.col("nid").alias("qid"),
                                      F.col("qid").alias("nid"))) \
            .distinct()

    try:
        if not os.path.isdir(dest):
            tmp = dest + f".tmp{os.getpid()}"
            _build().write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, dest)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        df = spark.read.parquet(dest).persist()
    except Exception:  # pragma: no cover — read-only checkout etc.
        df = _build().persist()
    df.count()
    _pin_new(spark, before, "knn_graph", _KNNG_CACHE, key)
    _KNNG_CACHE[key] = df
    return df


_PROBE_CACHE: dict[tuple[int, str], DataFrame] = {}


def _probe_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached 64-bucket hashed BoW feature matrix over the
    documents table (corpus.probe_features) — the ingest-time half of
    the q150 quality probe: features depend only on the corpus, while
    labels, steps, and class weights are per-query."""
    key = (id(spark), sf_dir)
    if key not in _PROBE_CACHE:
        before = _rdd_snap(spark)
        # Pinned HASH-PARTITIONED on doc_id (r16, guide §2.4): every
        # consumer keys on doc_id (the per-step z aggregate, the
        # gradient joins, the scoring join), so paying one exchange at
        # ingest makes each GD step's id-keyed stages exchange-free —
        # the cached InMemoryRelation's outputPartitioning satisfies
        # their ClusteredDistribution. Results are BIGINT sums —
        # partitioning-independent by construction.
        f = corpus.probe_features(
            _t(spark, sf_dir)["documents"], "text", "doc_id", 64) \
            .repartition(F.col("doc_id")).persist()
        f.count()
        _pin_new(spark, before, "probe_feats", _PROBE_CACHE, key)
        _PROBE_CACHE[key] = f
    _touch_pin("probe_feats")
    return _PROBE_CACHE[key]


_HNSW_CACHE: dict[tuple[int, str], dict] = {}


def _hnsw_index(spark: SparkSession, sf_dir: str) -> dict:
    """Offline HNSW hierarchy over the embeddings (similarity.
    hnsw_levels p=16 + the level≥1 layer's own symmetrized kNN
    subgraph, k=4), materialized once per scale factor to
    .derived/<sf>/hnsw16 and session-cached. The upper layer is
    |V|/16 nodes by the geometric draw, so the brute build here is
    the documented small-subset yardstick; at corpus scale the same
    IVF-blocked knn_join that builds knng8 builds it (fewer nodes,
    same plan). Returns {"levels": df, "upper": df}."""
    import os
    import shutil

    key = (id(spark), sf_dir)
    if key in _HNSW_CACHE:
        _touch_pin("hnsw16")
        return _HNSW_CACHE[key]
    before = _rdd_snap(spark)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".derived", sf_name, "hnsw16")

    def _build():
        emb = _t(spark, sf_dir)["embeddings"]
        levels = similarity.hnsw_levels(emb, id_col="vec_id", p=16)
        sub = emb.join(levels.filter(F.col("level") >= 1), "vec_id")
        g = (similarity.knn_join_brute(sub, k=4, id_col="vec_id")
             .select("qid", "nid"))
        upper = g.unionByName(g.select(F.col("nid").alias("qid"),
                                       F.col("qid").alias("nid"))) \
            .distinct()
        return levels, upper

    try:
        if not os.path.isdir(dest):
            levels, upper = _build()
            tmp = dest + f".tmp{os.getpid()}"
            levels.write.mode("overwrite").parquet(
                os.path.join(tmp, "levels"))
            upper.write.mode("overwrite").parquet(
                os.path.join(tmp, "upper"))
            try:
                os.rename(tmp, dest)
            except OSError:  # another process won the race
                shutil.rmtree(tmp, ignore_errors=True)
        levels = spark.read.parquet(os.path.join(dest, "levels")).persist()
        upper = spark.read.parquet(os.path.join(dest, "upper")).persist()
    except Exception:  # pragma: no cover — read-only checkout etc.
        levels, upper = _build()
        levels, upper = levels.persist(), upper.persist()
    levels.count()
    upper.count()
    _pin_new(spark, before, "hnsw16", _HNSW_CACHE, key)
    _HNSW_CACHE[key] = {"levels": levels, "upper": upper}
    return _HNSW_CACHE[key]


def q114_beam_search(spark, sf):
    """Graph-ANN beam search (similarity.graph_beam_search — the
    HNSW/NSW search loop, single-layer fixed-round form): the kNN
    graph is similarity.knn_join (k=8 neighbors, IVF-blocked) over
    the offline cell index, SYMMETRIZED — NSW/HNSW insert reverse
    links because a directed kNN graph dead-ends where neighbor sets
    crowd; from 4 fixed entry points, 3 beam rounds of
    expand-score-reselect (beam 8, scores BIGINT micro-quantized, id
    tiebreaks) converge on vec 0's neighborhood; top-5 of the final
    beam. The whole search — graph build, rounds, selection —
    unrolls to SQL, so even the ANN approximation error is
    oracle-pinned."""
    emb = _t(spark, sf)["embeddings"]
    g = _knn_graph(spark, sf)
    qv = [float(x) for x in
          emb.filter("vec_id = 0").first()["embedding"]]
    return (similarity.graph_beam_search(
        g, emb, qv, [0, 100, 200, 300], beam=8, n_iter=3, k=5)
        .orderBy(F.col("score").desc(), F.col("vec_id").asc()))


def q115_media_features(spark, sf):
    """Multimodal decode/feature-extract plumbing
    (multimodal.decode_features): documents re-cast as opaque binary
    media payloads — even doc_ids as kind='image', odd as 'audio' —
    run through the Arrow-batched mapInPandas decode stage, which
    dispatches per kind through the DECODERS seam. Both container
    stand-ins are md5-derived and exact in float32, so the
    Python-side feature math is oracle-reproducible in SQL: image
    features are digest COLUMN means (b[j]+b[j+4]+b[j+8]+b[j+12])/4,
    audio features digest ROW means (b[4j]+…+b[4j+3])/4 — distinct
    maps, so the per-kind dispatch itself is value-checked. Proves
    the schema/batching/UDF plumbing end-to-end, not just the stub."""
    from memory_engine_spark.operators import multimodal
    docs = _t(spark, sf)["documents"]
    media = docs.select(
        F.concat(F.lit("m_"), F.col("doc_id")).alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio")
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    out = multimodal.decode_features(media)
    return (out.join(media.select("media_id", "kind"), "media_id")
            .select(
        "media_id", "kind",
        *[F.col("feature")[i].cast("double").alias(f"f{i}")
          for i in range(4)],
        "n_bytes")
        .orderBy("media_id"))


def q116_export_roundtrip(spark, sf):
    """Export-sink/import-source round trip (sources/export.py ←
    data_exporter/importer): the documents table writes to a JSON
    sink and reads back through the schema-pinned import path; the
    query returns the re-imported rows (text content-addressed via
    md5), so the oracle — a plain scan of the ORIGINAL table — proves
    the round trip lossless, including JSON string escaping."""
    import os
    import tempfile

    from memory_engine_spark.sources import export as export_mod
    docs = _t(spark, sf)["documents"].select(
        "doc_id", "lang", "source", "n_chars", "text")
    dest = os.path.join(
        tempfile.gettempdir(),
        f"me_roundtrip_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    export_mod.export_json(docs, dest)
    back = export_mod.import_json(
        spark, dest,
        schema=("doc_id bigint, lang string, source string, "
                "n_chars bigint, text string"))
    return (back.select("doc_id", "lang", "source", "n_chars",
                        F.md5("text").alias("text_md5"))
            .orderBy("doc_id"))


def q117_session_windows(spark, sf):
    """Native session-window aggregation
    (streaming/stateful.session_aggregates — Spark ``session_window``,
    the streaming counterpart of q59's window-function sessionizer)
    run on the batch events frame: per-user sessions merge while
    gaps stay under 30 minutes and close at last-event + gap
    (window end exclusive, so a gap of EXACTLY 30 min starts a new
    session — the >= boundary the oracle reproduces). First §2.9
    streaming-semantics row with a value-level oracle."""
    from memory_engine_spark.streaming.stateful import session_aggregates
    ev = _t(spark, sf)["events"].filter(F.col("user_id") < 50)
    out = session_aggregates(ev, "user_id", "ts", gap="30 minutes")
    return (out.select("user_id",
                       F.unix_micros("session_start").alias("start_us"),
                       F.unix_micros("session_end").alias("end_us"),
                       "n_events")
            .orderBy("user_id", "start_us"))


def q118_versioned_state(spark, sf):
    """Versioned mutation + point-in-time reconstruction
    (operators/versioning.RevisionLog ← revision_manager.py:55-407):
    a deterministic CDC workload over the first 50 customers — base
    snapshot (bal 0), commit 1 updates even keys (bal = 10·key),
    commit 2 deletes keys %7==0 and updates the remaining %3==0 —
    then ``state_as_of`` cut TEN changes into commit 2 (changes
    within a commit are seq'd by object_id STRING order, the
    log_changes_df contract). Exercises window-top-1 reconstruction,
    delete semantics, snapshot carry-through, and a mid-commit
    cutoff; the log lives in a per-call-reset temp dir so repeated
    runs are identical."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.operators.versioning import RevisionLog
    cust = _t(spark, sf)["customer"].filter(F.col("c_custkey") <= 50)
    base = cust.select(F.col("c_custkey").cast("string")
                       .alias("object_id"),
                       F.lit('{"bal": 0}').alias("data"))
    path = os.path.join(
        tempfile.gettempdir(),
        f"me_revlog_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    log = RevisionLog(spark, path)

    def change(filt, ctype, bal_mult):
        return (cust.filter(filt)
                .select(F.lit("node").alias("object_type"),
                        F.col("c_custkey").cast("string")
                        .alias("object_id"),
                        F.lit(ctype).alias("change_type"),
                        F.lit('{"bal": 0}').alias("old_data"),
                        F.when(F.lit(ctype) == "delete", F.lit("null"))
                        .otherwise(F.concat(
                            F.lit('{"bal": '),
                            (F.col("c_custkey") * bal_mult).cast("string"),
                            F.lit('}'))).alias("new_data")))

    log.log_changes_df(change(F.col("c_custkey") % 2 == 0,
                              "update", 10))
    last_c1 = log._seq - 1  # last seq of commit 1 (inclusive cutoffs)
    log.log_changes_df(
        change(F.col("c_custkey") % 7 == 0, "delete", 0).unionByName(
            change((F.col("c_custkey") % 7 != 0)
                   & (F.col("c_custkey") % 3 == 0), "update", 100)))
    out = log.state_as_of(last_c1 + 10, "node", base=base)
    return (out.select(F.col("object_id").cast("long").alias("custkey"),
                       "data")
            .orderBy("custkey"))


def q119_backup_restore(spark, sf):
    """Backup/restore with incremental overlay (sources/backup.py ←
    backup_manager.py): FULL backup of the nation table, then an
    INCREMENTAL backup containing only the rows a deterministic edit
    changed (even keys get a rewritten comment — exceptAll against the
    restored base keeps just those), then a keyed-overlay restore of
    the incremental. verify_backup re-reads every stored table against
    its manifest row-count + order-independent checksum (raises on
    corruption) before the restore is returned; the oracle recomputes
    the edited table relationally, so a lossy store OR overlay bug
    fails the hash."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.sources.backup import BackupManager
    nation = _t(spark, sf)["nation"]
    edited = nation.withColumn(
        "n_name",
        F.when(F.col("n_nationkey") % 2 == 0,
               F.concat(F.lit("RENAMED_"),
                        F.col("n_nationkey").cast("string")))
        .otherwise(F.col("n_name")))
    bdir = os.path.join(
        tempfile.gettempdir(),
        f"me_backup_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    shutil.rmtree(bdir, ignore_errors=True)
    mgr = BackupManager(spark, bdir, verify=True)
    mgr.create_backup({"nation": nation}, backup_id="b_full",
                      strategy="full")
    mgr.create_backup({"nation": edited}, backup_id="b_incr",
                      strategy="incremental", base_backup_id="b_full",
                      key_cols={"nation": "n_nationkey"})
    mgr.verify_backup("b_full")
    mgr.verify_backup("b_incr")
    restored = mgr.restore_backup("b_incr")["nation"]
    return (restored.select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey"))


def q120_format_roundtrip(spark, sf):
    """Unified format sources (sources/formats.py): the same
    projection writes through the CSV and JSONL sinks, reads back via
    ``read_any`` with the format SNIFFED from the part-file extension
    (schema pinned — pipelines never pay inference), and the query
    returns their INTERSECTION — equal to the original table only if
    both round trips are lossless AND mutually consistent."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.sources import formats
    docs = _t(spark, sf)["documents"].select(
        "doc_id", "lang", "source", "n_chars")
    base = os.path.join(
        tempfile.gettempdir(),
        f"me_formats_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    cdir, jdir = os.path.join(base, "c"), os.path.join(base, "j")
    formats.write_any(docs, cdir, fmt="csv")
    formats.write_any(docs, jdir, fmt="json")
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    c = formats.read_any(spark, cdir, schema=schema)
    j = formats.read_any(spark, jdir, schema=schema)
    assert formats.sniff_format(cdir) == "csv"
    assert formats.sniff_format(jdir) == "json"
    return c.intersect(j).orderBy("doc_id")


def q121_nlq_pipeline(spark, sf):
    """Natural-language query processing end-to-end
    (plans/nlq.parse_nl_query ← natural_language_processor.py:120-246
    regex half + plans/compiler.compile_query): three NL questions
    classify to the aggregation intent, extract their filters
    ('from source X' → eq, 'containing Y' → contains), compile onto
    the documents table (aliased to the reference's nodes-shaped
    content/source columns), and execute. One row per question:
    (question, intent, confidence, count) — the deterministic
    regex-only path, no LLM in the loop (the provider seam stays
    None, as the driver gate requires)."""
    from memory_engine_spark.plans.nlq import parse_nl_query
    docs = _t(spark, sf)["documents"].select(
        F.col("doc_id"), F.col("text").alias("content"), "source")
    questions = [
        "how many documents from source src0",
        "count documents containing data",
        "how many documents from source src2",
    ]
    out = None
    for q in questions:
        parsed = parse_nl_query(q, entity="documents")
        res = compile_query(docs, parsed.spec).select(
            F.lit(q).alias("question"),
            F.lit(parsed.intent).alias("intent"),
            F.lit(parsed.confidence).alias("confidence"),
            F.col("count").cast("long").alias("n"))
        out = res if out is None else out.unionByName(res)
    return out.orderBy("question")


def q122_metadata_merge(spark, sf):
    """Metadata right-wins merge (merging.merged_metadata ←
    merging.py:154-196): per-customer metadata map A (segment +
    balance band) merged with a sparse override map B (segment
    rewritten for even keys, a new 'reviewed' key for keys %3==0);
    B's values win on key collision, A's survive elsewhere. The
    merged map EXPLODES to (custkey, key, value) rows so the oracle
    states the same merge relationally — no JSON/map codecs in the
    hash."""
    from memory_engine_spark.operators.merging import merged_metadata
    cust = _t(spark, sf)["customer"].filter(F.col("c_custkey") <= 100)
    a = F.create_map(
        F.lit("segment"), F.col("c_mktsegment"),
        F.lit("band"),
        F.when(F.col("c_acctbal") >= 0, F.lit("pos"))
        .otherwise(F.lit("neg")))
    b = F.when(
        F.col("c_custkey") % 2 == 0,
        F.when(F.col("c_custkey") % 3 == 0,
               F.create_map(F.lit("segment"), F.lit("OVERRIDE"),
                            F.lit("reviewed"), F.lit("yes")))
        .otherwise(F.create_map(F.lit("segment"), F.lit("OVERRIDE")))
    ).otherwise(
        F.when(F.col("c_custkey") % 3 == 0,
               F.create_map(F.lit("reviewed"), F.lit("yes"))))
    merged = cust.select(F.col("c_custkey").alias("custkey"),
                         merged_metadata(a, b).alias("m"))
    return (merged.select("custkey",
                          F.explode("m").alias("key", "value"))
            .orderBy("custkey", "key"))


_Q123_SEQ = [0]


def q123_stream_tumbling(spark, sf):
    """REAL Structured Streaming execution (SURVEY §2.9): the events
    parquet runs through readStream (file source over a symlinked
    dir — the source API needs a directory) into a tumbling 1-hour
    window count per event_type, complete-output to a memory sink
    under Trigger.AvailableNow — processes everything then stops, so
    the final table is deterministic regardless of micro-batch
    boundaries and the ORACLE is the plain batch tumbling aggregate.
    The driver gate thereby value-checks an actual MicroBatchExecution
    run, not a batch re-expression."""
    import os
    import shutil
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        f"me_stream_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    os.symlink(os.path.join(sf, "events.parquet"),
               os.path.join(d, "events.parquet"))
    schema = _t(spark, sf)["events"].schema
    src = spark.readStream.schema(schema).parquet(d)
    agg = (src.groupBy(F.window(F.col("ts"), "1 hour").alias("w"),
                       "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    _Q123_SEQ[0] += 1
    name = f"q123_sink_{os.getpid()}_{_Q123_SEQ[0]}"
    # q125's state-store sizing discipline (r16): a stateful agg
    # materializes one state store per shuffle partition per
    # micro-batch, so the drain conf-windows the partition count to
    # the state size (~100 window×type groups), not the scan
    # parallelism. Counts are partition-independent.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (spark.table(name)
            .select(F.unix_micros("w.start").alias("ws_us"),
                    "event_type", "n")
            .orderBy("ws_us", "event_type"))


_Q124_SEQ = [0]


def q124_stream_hll(spark, sf):
    """Stateful STREAMING aggregation under the oracle gate
    (streaming/stateful.streaming_hll_registers): per-event_type HLL
    register state (max rank per md5 register — ≤256 state rows per
    group no matter the cardinality) maintained by MicroBatchExecution
    in update mode over the symlinked events file source, drained with
    Trigger.AvailableNow; the sink's register rows fold to the
    estimate batch-side (``hll_estimate_from_registers``). A re-MAX
    over the sink collapses superseded update emissions, so the result
    is micro-batch-boundary independent — and equals the portable
    batch sketch the generated DuckDB oracle states."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.streaming.stateful import (
        hll_estimate_from_registers, streaming_hll_registers)
    d = os.path.join(
        tempfile.gettempdir(),
        f"me_stream_hll_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    os.symlink(os.path.join(sf, "events.parquet"),
               os.path.join(d, "events.parquet"))
    schema = _t(spark, sf)["events"].schema
    src = spark.readStream.schema(schema).parquet(d)
    regs = streaming_hll_registers(src, "user_id",
                                   group_cols=["event_type"], p=8)
    _Q124_SEQ[0] += 1
    name = f"q124_sink_{os.getpid()}_{_Q124_SEQ[0]}"
    # q125's state-store sizing discipline (r16): state here is ≤
    # 256 registers × |event_type| rows — size the state-store stage
    # to that, not to the 32-way scan. Register maxes are
    # partition-independent (and a re-MAX folds the sink anyway).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (regs.writeStream.outputMode("update").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    final_regs = (spark.table(name)
                  .groupBy("event_type", "reg")
                  .agg(F.max("max_rank").alias("max_rank")))
    est = hll_estimate_from_registers(final_regs,
                                      group_cols=["event_type"], p=8)
    exact = (_t(spark, sf)["events"]
             .groupBy("event_type")
             .agg(F.count_distinct("user_id").cast("long")
                  .alias("exact")))
    return (est.join(exact, "event_type")
            .select("event_type", "hll_estimate", "exact")
            .orderBy("event_type"))


_Q125_SEQ = [0]


def q125_stream_interval_join(spark, sf):
    """Watermarked stream-stream INNER join under the oracle gate
    (streaming/stateful.stream_interval_join): click events join view
    events of the same user within ±1 h across two independent file
    streams (both symlinked from the events parquet, filtered per
    side). The watermark is set beyond the dataset's span, so no
    state evicts before the AvailableNow drain and the emitted pair
    set is micro-batch-boundary independent — equal to the batch
    range join the oracle states. The state-eviction semantics
    themselves are covered by the in/out-of-window streaming test."""
    return _q125_drain(spark, sf, "click", "view")


def _q125_drain(spark, sf, click_type: str, view_type: str,
                state_partitions: int = 8):
    """q125's full plumbing, parameterized on the two side filters so
    the bench lifecycle probe (`q125_lifecycle`) can drain the SAME
    two file-stream sources with types that match nothing — zero
    state, zero output — isolating the MicroBatchExecution lifecycle
    cost (planning, file-source listing, state-store scaffolding,
    startup/teardown) from the join work (r07 verdict item 4).

    ``state_partitions`` conf-windows ``spark.sql.shuffle.partitions``
    around the streaming query: a stream-stream join materializes TWO
    state stores PER shuffle partition PER micro-batch, so the
    partition count — not the data — dominated q125's wall at this
    scale (measured at sf0.1: 32 parts → 6.4 s, 16 → 4.0 s, 8 →
    2.8 s with the lifecycle floor dropping 3.4 → 1.7 s; the join
    residual lands ~1.1 s). 8 keeps every core busy at local scale;
    at 100 TB the number is sized to per-store state (~100-500 MB per
    store), exactly like any other shuffle — the point is that the
    state-store stage is sized to STATE, never inherited from the
    scan parallelism."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.streaming.stateful import \
        stream_interval_join
    d = os.path.join(
        tempfile.gettempdir(),
        f"me_stream_ij_{os.path.basename(sf.rstrip('/')) or 'd'}"
        f"_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    os.symlink(os.path.join(sf, "events.parquet"),
               os.path.join(d, "events.parquet"))
    schema = _t(spark, sf)["events"].schema
    clicks = (spark.readStream.schema(schema).parquet(d)
              .filter(F.col("event_type") == click_type)
              .select("user_id", "ts", "event_id"))
    views = (spark.readStream.schema(schema).parquet(d)
             .filter(F.col("event_type") == view_type)
             .select("user_id", "ts", "event_id"))
    joined = stream_interval_join(clicks, views, "user_id",
                                  within_s=3600,
                                  watermark_s=10 ** 9)
    _Q125_SEQ[0] += 1
    name = f"q125_sink_{os.getpid()}_{_Q125_SEQ[0]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(state_partitions))
    # r16: skip the trailing NO-DATA micro-batch. For this INNER join
    # with a watermark far beyond the dataset's span, that batch only
    # advances the watermark for state eviction and can emit nothing,
    # but it pays a full micro-batch lifecycle (planning + 2×8 state
    # store loads + commit) — measured min 3.06 → 2.72 s on the same
    # host window. q236 (left outer) MUST keep it: its sentinel-driven
    # no-data batch is what flushes the pending outer rows.
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                   "false")
    try:
        q = (joined.writeStream.outputMode("append").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled",
            prev_ndmb)
    return (spark.table(name)
            .select("user_id",
                    F.unix_micros("ts").alias("click_us"),
                    F.unix_micros("r_ts").alias("view_us"))
            .orderBy("user_id", "click_us", "view_us"))


def q236_stream_outer_join(spark, sf):
    """Watermarked stream-stream LEFT OUTER interval join under the
    oracle gate — the topology q125 (inner) and q217 (stream-static)
    don't cover: null-padded results may only emit once the
    watermark PROVES no matching right event can still arrive, so
    outer rows trail the watermark and an AvailableNow drain with a
    data-bounded watermark would silently swallow the tail. The
    drain therefore appends a SENTINEL file (one far-future event
    per side, user_id −1) that pushes both sides' watermarks past
    end-of-data; the no-data micro-batch that follows flushes every
    pending outer row, making the emitted set batch-boundary
    independent — equal to the batch left range join the oracle
    states (sentinels filtered out). The watermark here is FINITE
    (1 h — unlike q125's effectively-infinite one) so this also
    exercises real state eviction on the way through. Same
    state-store sizing discipline as q125 (conf-windowed 8
    partitions)."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.streaming.stateful import \
        stream_interval_join

    d = os.path.join(
        tempfile.gettempdir(),
        f"me_stream_oj_{os.path.basename(sf.rstrip('/')) or 'd'}"
        f"_{os.getpid()}")
    schema = _t(spark, sf)["events"].schema
    # the feeder dir (symlink + sentinel parquet) is immutable per
    # (sf, pid) — build it ONCE; rebuilding per call re-ran a full
    # Spark write job each time (measured: drain 2.3 s, query 6.2 s)
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        os.symlink(os.path.join(sf, "events.parquet"),
                   os.path.join(tmp, "events.parquet"))
        sentinel = spark.createDataFrame(
            [(-1, __import__("datetime").datetime(2100, 1, 1), -1,
              "click", 0.0, ""),
             (-2, __import__("datetime").datetime(2100, 1, 1), -1,
              "error", 0.0, "")], schema)
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "sentinel.parquet"))
        try:
            os.rename(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    src = spark.readStream.schema(schema).parquet(
        d + "/*.parquet")
    clicks = (src.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id"))
    errors = (src.filter(F.col("event_type") == "error")
              .select("user_id", "ts", "event_id"))
    joined = stream_interval_join(clicks, errors, "user_id",
                                  within_s=3600, watermark_s=3600,
                                  how="left_outer")
    _Q125_SEQ[0] += 1
    name = f"q236_sink_{os.getpid()}_{_Q125_SEQ[0]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (joined.writeStream.outputMode("append").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (spark.table(name)
            .filter(F.col("user_id") >= 0)
            .select("user_id",
                    F.unix_micros("ts").alias("click_us"),
                    F.unix_micros("r_ts").alias("error_us"))
            .orderBy("user_id", "click_us", "error_us"))


def q125_lifecycle(spark, sf):
    """Bench-only lifecycle twin of q125: same two file-stream
    sources, same watermarked interval-join plan, but both side
    filters match NO event type — the state store sees zero rows and
    the sink emits zero, so the drain's wall-clock IS the MicroBatch
    lifecycle floor. bench.py reports it as `q125_lifecycle_sec`
    next to q125 so the lifecycle/join split is measured, not
    asserted. Not registered in queries() — there is nothing for an
    oracle to check."""
    return _q125_drain(spark, sf, "__none__", "__never__")


def q126_shipping_priority(spark, sf):
    """TPC-H Q3-shape shipping-priority query: BUILDING-segment
    customers' orders placed before the cutoff whose lineitems shipped
    after it — customer is the broadcast dimension, the date filters
    push to both fact scans, and the top-10 by revenue is a
    TakeOrderedAndProject, never a full sort. Revenue accumulates in
    DECIMAL (q76's partition-order-stable discipline)."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        t["lineitem"].filter(F.col("l_shipdate") > "1996-06-30")
        .join(t["orders"].filter(F.col("o_orderdate") < "1996-07-01"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(
            t["customer"].filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .select("l_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd")
                .alias("o_date"), "o_orderpriority", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10))


def q127_large_orders(spark, sf):
    """TPC-H Q18-shape large-volume-customer query: orders whose total
    lineitem quantity exceeds the threshold — the classic
    aggregate-then-semi-join (the HAVING subquery becomes a pre-
    aggregated join side; only qualifying orderkeys flow into the
    enrichment joins). DECIMAL quantity sums keep the hash
    partition-order-stable."""
    t = _t(spark, sf)
    big = (t["lineitem"].groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .alias("sum_qty"))
           .filter(F.col("sum_qty") > 250))
    return (big.join(t["orders"],
                     F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(
                t["customer"].select("c_custkey", "c_name")),
                F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_date"),
                    F.col("o_totalprice").alias("total_price"),
                    F.col("sum_qty").cast("double").alias("sum_qty"))
            .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
            .limit(50))


def q128_filter_matrix(spark, sf):
    """Filter-registry matrix: one row per registry case — null policies
    exclude/include/as_value (filter_processor.py:24-31,151-157),
    case-insensitive folding (:171-175), map dot-path access (:186-223),
    multi-format datetime coercion (:259-280), the regex guard
    (invalid / >1000-char pattern → no match, :343-356), the second
    query_language.py dialect's `null` op, and the set/range/string/array
    operators. Each case runs through ``apply_filters`` (the compiled
    conjunctive Column path), then collapses to (case, n, id_sum) so the
    oracle checks exact match semantics, not just counts."""
    import datetime

    from memory_engine_spark.operators.filters import (
        NULL_AS_VALUE, NULL_INCLUDE, FilterCondition as FC, apply_filters,
        parse_datetime_multi,
    )

    t = _t(spark, sf)
    did = F.col("doc_id")
    pd_col = F.date_add(F.lit(datetime.date(1995, 1, 1)),
                        (did % 400).cast("int"))
    ds = (F.when(did % 3 == 0, F.date_format(pd_col, "yyyy-MM-dd"))
          .when(did % 3 == 1, F.date_format(pd_col, "MM/dd/yyyy"))
          .otherwise(F.date_format(pd_col, "dd-MM-yyyy")))
    base = t["documents"].select(
        "doc_id", "text", "source", "n_chars",
        F.when(did % 7 == 0, F.lit(None)).otherwise(F.col("lang")).alias("lang2"),
        F.create_map(
            F.lit("src"), F.col("source"),
            F.lit("parity"), F.when(did % 2 == 0, "even").otherwise("odd"),
        ).alias("props"),
        ds.alias("ds"),
        F.array(F.col("lang"), F.col("source")).alias("arr"),
    ).withColumn("pts", parse_datetime_multi(F.col("ds")))

    cases = [
        ("c01_eq_ci", [FC("lang2", "eq", "EN", case_sensitive=False)]),
        ("c02_ne_exclude", [FC("lang2", "ne", "en")]),
        ("c03_ne_include", [FC("lang2", "ne", "en", null_policy=NULL_INCLUDE)]),
        ("c04_ne_as_value", [FC("lang2", "ne", "en", null_policy=NULL_AS_VALUE)]),
        ("c05_map_dot_path", [FC("props.parity", "eq", "even")]),
        ("c06_datetime_coerce", [FC("pts", "date_range",
                                    ("1995-03-01", "1995-09-30"))]),
        ("c07_regex_valid", [FC("text", "regex", "[aeiou]{3}")]),
        ("c08_regex_invalid", [FC("text", "regex", "(unclosed")]),
        ("c09_regex_oversized", [FC("text", "regex", "x" * 1001)]),
        ("c10_between", [FC("n_chars", "between", (100, 300))]),
        ("c11_in", [FC("source", "in", ["src1", "src3", "src5"])]),
        ("c12_not_in", [FC("source", "not_in", ["src0", "src2"])]),
        ("c13_contains_ci", [FC("text", "contains", "THE",
                                case_sensitive=False)]),
        ("c14_starts_with", [FC("source", "starts_with", "src1")]),
        ("c15_ends_with", [FC("source", "ends_with", "7")]),
        ("c16_not_exists", [FC("lang2", "not_exists")]),
        ("c17_not_empty", [FC("lang2", "not_empty")]),
        ("c18_null_dialect", [FC("lang2", "null", True)]),
        ("c19_array_contains", [FC("arr", "array_contains", "en")]),
        ("c20_array_length", [FC("arr", "array_length", 2)]),
        ("c21_conjunctive", [FC("lang2", "eq", "en"),
                             FC("n_chars", "gt", 200),
                             FC("source", "ends_with", "2")]),
    ]
    parts = [
        apply_filters(base, conds).agg(
            F.lit(name).alias("case"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("id_sum"),
        ).select("case", "n", "id_sum")
        for name, conds in cases
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("case")


def q129_auto_relationships(spark, sf):
    """Relationship-discovery strategies with typed edges: shared-tag
    RELATED (confidence 0.5, relationship_extractor.py:484-615) over a
    sparse synthetic tag space, plus SAME_DOMAIN (confidence 0.8,
    :713-797). Both are tag/domain-blocked equi-joins — the blocking key
    IS the shuffle key, so group sizes bound the pair fan-out (the
    100 TB guard: no all-pairs)."""
    base = _t(spark, sf)["documents"].filter(F.col("doc_id") < 300)
    tag = lambda m: F.concat(F.lit("k"), ((F.col("doc_id") * m) % 199).cast("string"))
    tagged = base.select(
        "doc_id",
        F.concat_ws(",", tag(1), tag(7), tag(13)).alias("tags"))
    rel = discovery.related_by_shared_tag(tagged, "tags", "doc_id")
    dom = discovery.same_domain(base.filter(F.col("doc_id") < 120),
                                "source", "doc_id")
    return (rel.unionByName(dom)
            .select(F.col("a").cast("bigint").alias("a"),
                    F.col("b").cast("bigint").alias("b"),
                    "relation_type",
                    F.col("confidence").cast("double").alias("confidence"))
            .orderBy("relation_type", "a", "b"))


def q130_merge_nodes(spark, sf):
    """Node-merge fold (sqlite_storage.py:798-840): rewrite n_7's edges
    onto n_3, drop the self-loop the rewrite creates (a seeded n_7→n_3
    edge), dedup, and show the merged node's incident edges. The rewrite
    is two CASE columns — no join, no shuffle beyond the final dedup."""
    ed = (_edges(spark, sf)
          .filter(F.col("relation_type").isin("in_region", "from_nation"))
          .select("from_id", "to_id", "relation_type"))
    seeded = ed.unionByName(spark.createDataFrame(
        [("n_7", "n_3", "related")],
        "from_id string, to_id string, relation_type string"))
    nodes = (seeded.select(F.col("from_id").alias("node_id"))
             .unionByName(seeded.select(F.col("to_id").alias("node_id")))
             .distinct())
    _, edges2 = graph.merge_nodes(nodes, seeded, keep_id="n_3", drop_id="n_7")
    return (edges2.filter((F.col("from_id") == "n_3") | (F.col("to_id") == "n_3"))
            .orderBy("from_id", "to_id", "relation_type"))


def q131_ranking_components(spark, sf):
    """Ranking sub-scores (result_ranker.py): freshness step decay
    (:336-377), popularity log curve (:379-411), quality
    0.4/0.4/0.2 (:322-334), and the normalized weighted combination
    (:542-568). The ln()-derived popularity is quantized to BIGINT
    micro-units BEFORE anything downstream consumes it (the q86
    discipline: never hash engine-local transcendentals), so the
    combined score is IEEE-deterministic double arithmetic over
    already-exact micro values."""
    from memory_engine_spark.operators import ranking as rk

    t = _t(spark, sf)
    did = F.col("doc_id")
    d = t["documents"].select(
        "doc_id",
        (did % 500).cast("double").alias("age_days"),
        ((did * 3) % 150).alias("access_count"),
        ((did % 11).cast("double") / 10.0).alias("richness"),
        (((did * 3) % 11).cast("double") / 10.0).alias("truthfulness"),
        (((did * 7) % 11).cast("double") / 10.0).alias("stability"),
    )
    micro = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("bigint")
    scored = d.select(
        "doc_id",
        micro(rk.freshness_score(F.col("age_days"))).alias("freshness_micro"),
        micro(rk.popularity_score("access_count")).alias("popularity_micro"),
        micro(rk.quality_rating_score(
            "richness", "truthfulness", "stability")).alias("quality_micro"),
    )
    combined = rk.combined_score(
        {"quality": F.col("quality_micro") / 1e6,
         "freshness": F.col("freshness_micro") / 1e6,
         "popularity": F.col("popularity_micro") / 1e6},
        weights={"quality": 0.3, "freshness": 0.1, "popularity": 0.1})
    return (scored.withColumn("combined_micro", micro(combined))
            .orderBy(F.col("combined_micro").desc(), F.col("doc_id").asc()))


def q132_event_throttle(spark, sf):
    """Throttled micro-batch admission plan (event_system.py:355-375):
    every event gets a 100-events/s processing slot via a declarative
    row_number plan; per-slot occupancy and id ranges prove no slot
    exceeds the rate. The ordering includes the event id tiebreak so
    the plan is total-order deterministic."""
    from memory_engine_spark.streaming.events import rate_limited_batches

    ev = _t(spark, sf)["events"].select("event_id", "ts")
    slotted = rate_limited_batches(ev, events_per_second=100,
                                   order_cols=("ts", "event_id"))
    return (slotted.groupBy("slot")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id"),
                 F.sum("event_id").cast("bigint").alias("id_sum"))
            .orderBy("slot"))


def q133_having_prefilter(spark, sf):
    """Aggregation request with the reference's having-as-PRE-filter
    quirk (filter_processor.py:474-479): the `having` conditions filter
    ROWS before aggregation, not groups after — plus the "|"-joined
    composite group key (:595-600). DECIMAL sum keeps the total
    partition-order-stable."""
    from memory_engine_spark.operators.aggregates import Aggregation, aggregate
    from memory_engine_spark.operators.filters import FilterCondition as FC

    t = _t(spark, sf)
    src = t["orders"].withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)"))
    out = aggregate(
        src,
        aggs=[Aggregation("count"), Aggregation("sum", "price_dec", "total")],
        group_by=["o_orderpriority", "o_orderstatus"],
        having=[FC("o_totalprice", "gt", 150000.0)],
        composite_key=True,
    )
    return (out.select("group_key",
                       F.col("count").cast("bigint").alias("n"),
                       F.round(F.col("total").cast("double"), 2).alias("total"))
            .orderBy("group_key"))


def q134_metric_conversions(spark, sf):
    """Vector-store metric conversions (numpy_store.py:586-626): L2→
    similarity 1/(1+d), ε-guarded cosine, raw inner product — all as
    Catalyst higher-order functions (functions/vector.py), scored
    against one inlined query vector with no join at all."""
    from memory_engine_spark.functions import vector as V

    t = _t(spark, sf)
    qv = [float(x) for x in
          t["embeddings"].filter("vec_id = 0").first()["embedding"]]
    q = F.lit(qv).cast("array<double>")
    e = t["embeddings"].filter(F.col("vec_id") < 200)
    return (e.select(
        "vec_id",
        F.round(V.l2_similarity(F.col("embedding"), q), 6).alias("l2_sim"),
        F.round(V.cosine_similarity(F.col("embedding"), q), 6).alias("cosine"),
        F.round(V.dot(F.col("embedding"), q), 6).alias("ip"))
        .orderBy("vec_id"))


def q135_pubsub_replay(spark, sf):
    """Pub/sub bus end-to-end (event_system.py:377-450,551-693): two
    publishes append to the file-backed bus, ``replay(from_timestamp)``
    re-reads from the cutoff (a scan with the ts filter pushed down),
    and a typed Subscriber applies its event-type + predicate filters.
    The oracle is a plain WHERE over the ORIGINAL events table, so the
    publish→persist→replay path is proven lossless."""
    import os
    import tempfile

    from memory_engine_spark.streaming.events import EventBus, Subscriber

    ev = _t(spark, sf)["events"]
    mid_row = ev.agg(F.max("event_id")).first()
    if mid_row[0] is None:
        raise ValueError("q135: events table is empty — no replay cutoff")
    # Nearest-below lookup (r05 ADVICE): max//2 need not be a present
    # event_id (sparse/filtered id spaces); exact equality would crash
    # on first()[0].
    cut = (ev.filter(F.col("event_id") <= mid_row[0] // 2)
           .orderBy(F.col("event_id").desc())
           .select("ts").first()[0])
    root = os.path.join(
        tempfile.gettempdir(),
        f"me_bus_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    bus = EventBus(spark, root)
    if not any(f.endswith(".parquet") or f.startswith("part-")
               for f in os.listdir(bus.events_dir)):
        bus.publish(ev.filter(F.col("event_id") % 2 == 0))
        bus.publish(ev.filter(F.col("event_id") % 2 == 1))
    sub = Subscriber(name="analytics", handler=lambda df, bid: None,
                     event_types=["click", "view"], predicate="value > 0.5")
    return (sub.apply_filters(bus.replay(cut))
            .select("event_id", "event_type", "value")
            .orderBy("event_id"))


def q136_task_queue(spark, sf):
    """Async task queue (async_queue_processor.py): 24 tasks submitted
    from the events table, processors registered per task type, three
    ``process_available`` drains. click tasks complete on attempt 1;
    view tasks error every round and exhaust max_retries=2 (terminal
    'failed' with attempts=3); the other types have no processor and
    fail unroutable on attempt 1. The oracle states those terminal
    semantics directly — priorities, retry budgets, and the append-only
    state log all flow through the operator."""
    import json as json_mod
    import os
    import tempfile

    from memory_engine_spark.streaming.task_queue import TaskQueue

    ev = _t(spark, sf)["events"]
    rows = (ev.filter(F.col("event_id") < 24)
            .select("event_id", "event_type").orderBy("event_id").collect())
    root = os.path.join(
        tempfile.gettempdir(),
        f"me_q136_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    q = TaskQueue(spark, root)
    prio = ["low", "normal", "high", "critical"]
    if not q._exists():
        q.submit_batch(
            [(r["event_type"], {"event_id": r["event_id"]},
              prio[r["event_id"] % 4]) for r in rows],
            max_retries=2)
        q.register_processor("click", lambda b: b.select(
            "task_id",
            (F.get_json_object("payload", "$.event_id").cast("long") * 2)
            .cast("string").alias("result"),
            F.lit(None).cast("string").alias("error")))
        q.register_processor("view", lambda b: b.select(
            "task_id", F.lit(None).cast("string").alias("result"),
            F.lit("synthetic failure").alias("error")))
        for _ in range(3):
            q.process_available(batch_size=100)
    return (q.current_state()
            .select("task_type", "status", "attempts",
                    F.get_json_object("payload", "$.event_id")
                    .cast("long").alias("eid"))
            .groupBy("task_type", "status")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.min("attempts").cast("bigint").alias("min_attempts"),
                 F.max("attempts").cast("bigint").alias("max_attempts"),
                 F.sum("eid").cast("bigint").alias("id_sum"))
            .orderBy("task_type", "status"))


def q137_hash_embeddings(spark, sf):
    """Embedding generation through the provider seam
    (embedding_manager.py:110-306): ``embed_column`` dedupes identical
    texts BEFORE the Arrow-batched provider call (the embedding cache,
    expressed relationally) and md5-joins vectors back. The provider
    here emits the UNNORMALIZED hashed-projection counts (integer-
    valued, so float32 transport is exact) and the oracle rebuilds the
    same md5 token hashing in SQL — the full provider seam, batch path,
    and cache join are hash-checked end to end."""
    from memory_engine_spark.operators.ingestion import (
        _TOKEN_RE, _hash32, embed_column,
    )

    DIM = 8

    def provider(texts):
        out = []
        for txt in texts:
            v = [0.0] * DIM
            for tok in _TOKEN_RE.findall(txt.lower()):
                h = _hash32(tok)
                v[h % DIM] += 1.0 if (h >> 16) % 2 == 0 else -1.0
            out.append(v)
        return out

    docs = _t(spark, sf)["documents"]
    emb = embed_column(docs, "text", dim=DIM, provider=provider)
    return (emb.select(
        "doc_id",
        *[F.element_at("embedding", i + 1).cast("bigint").alias(f"e{i}")
          for i in range(DIM)])
        .orderBy("doc_id"))


def q138_bpe_merges(spark, sf):
    """BPE vocabulary induction (corpus.bpe_train — Sennrich et al.
    2016): 10 merge rules learned from the documents word-frequency
    table, argmax tie-broken (count desc, pair asc). The oracle unrolls
    all 10 rounds as chained CTEs using the SAME delimiter-doubling
    replace, so the greedy merge semantics themselves are engine-
    checked, not just the counts."""
    m = corpus.bpe_train(_t(spark, sf)["documents"], "text",
                         n_merges=10, top_words=400)
    return spark.createDataFrame(
        m, "merge_round int, left_sym string, right_sym string, "
           "pair_count bigint")


def q139_subgraph_export(spark, sf):
    """Subgraph export round trip (enhanced_mcp_endpoint.py:1104-1213):
    semi-join the id list, induce interior edges (both endpoints in the
    subgraph — cross-boundary from_nation edges drop out), write the
    JSON sink, re-import schema-pinned. The oracle states the nation→
    region closure directly, proving the induced-edge semantics AND the
    sink/import losslessness in one gate."""
    import os
    import tempfile

    from memory_engine_spark.sources import export as export_mod

    edges = _edges(spark, sf).select("from_id", "to_id", "relation_type")
    nodes = (edges.select(F.col("from_id").alias("node_id"))
             .unionByName(edges.select(F.col("to_id").alias("node_id")))
             .distinct())
    ids = [f"n_{i}" for i in range(25)] + [f"r_{i}" for i in range(5)]
    dest = os.path.join(
        tempfile.gettempdir(),
        f"me_q139_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    export_mod.export_subgraph(nodes, edges, ids, dest, fmt="json")
    back_nodes = export_mod.import_json(
        spark, os.path.join(dest, "nodes"), schema="node_id string")
    back_edges = export_mod.import_json(
        spark, os.path.join(dest, "edges"),
        schema="from_id string, to_id string, relation_type string")
    return (back_nodes.select(
        F.lit("node").alias("kind"), F.col("node_id").alias("a"),
        F.lit("").alias("b"), F.lit("").alias("rel"))
        .unionByName(back_edges.select(
            F.lit("edge").alias("kind"), F.col("from_id").alias("a"),
            F.col("to_id").alias("b"), F.col("relation_type").alias("rel")))
        .orderBy("kind", "a", "b", "rel"))


def q140_migrate_verify(spark, sf):
    """Backend migration + verification (backend_migrator.py:1-463):
    copy a table into a different backend format and prove the copy
    complete with symmetric exceptAll checks — parquet for the typed
    table, JSON for the schema-on-read path (whose alphabetical column
    permutation the verifier realigns)."""
    import os
    import tempfile

    from memory_engine_spark.sources.export import migrate_and_verify

    t = _t(spark, sf)
    base = os.path.join(
        tempfile.gettempdir(),
        f"me_q140_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    rows = []
    for fmt, tbl in [("json", "nation"), ("parquet", "supplier")]:
        src = t[tbl]
        ok = migrate_and_verify(src, os.path.join(base, f"{tbl}_{fmt}"),
                                spark, fmt=fmt)
        rows.append((fmt, tbl, bool(ok), src.count()))
    return spark.createDataFrame(
        rows, "fmt string, table_name string, verified boolean, n bigint"
    ).orderBy("fmt")


def q141_synthesis_modes(spark, sf):
    """Comprehensive-synthesis orchestration
    (knowledge_synthesis_engine.py:36-103) through the MemoryEngine
    facade: fast = patterns only; balanced adds structural anomalies;
    comprehensive adds contradictions. Documents are the knowledge
    nodes; edges come from the sparse shared-tag discovery join, so
    the structural pass sees real isolated/hub structure. The output
    is the per-mode insight inventory with row counts — each count is
    pinned by the corresponding operator's oracle SQL."""
    from memory_engine_spark.engine import MemoryEngine
    from memory_engine_spark.session import EngineSession

    docs = _t(spark, sf)["documents"]
    nodes = docs.select(F.col("doc_id").cast("string").alias("node_id"),
                        F.col("text").alias("content"))
    tag = lambda m: F.concat(F.lit("k"),
                             ((F.col("doc_id") * m) % 997).cast("string"))
    tagged = docs.select(
        F.col("doc_id").cast("string").alias("node_id"),
        F.concat_ws(",", tag(1), tag(7), tag(13)).alias("tags"))
    # NOTE (r9, measured): pinning this discovery join (cache + eager
    # count) made the query SLOWER — 3.6 → 4.5 s warm at sf0.1 —
    # because the InMemoryRelation blocks the broadcast/AQE choices
    # the per-mode consumers otherwise make; the re-derivation is
    # cheaper than the columnar pin here (same negative result as
    # chrf's base pin). Left unpinned deliberately.
    edges = (discovery.related_by_shared_tag(tagged, "tags", "node_id")
             .select(F.col("a").alias("from_id"), F.col("b").alias("to_id"),
                     "relation_type"))
    s = EngineSession(spark)
    s.register("nodes", nodes)
    s.register("edges", edges)
    eng = MemoryEngine(s)
    # The modes NEST (fast ⊂ balanced ⊂ comprehensive) and synthesize
    # returns the SAME lazy plan for a given insight in every mode, so
    # count each insight once and reuse — 6 materializations → 3
    # (patterns was computed 3×, structural_anomalies 2×; r10:
    # 4.6 → 2.6 s steady). The facade's mode dispatch still runs per
    # mode; the r9 negative (pinning the discovery JOIN hurt via
    # blocked AQE) is untouched — this memoizes final counts, not
    # inputs.
    mode_insights: dict[str, list[str]] = {}
    pending: dict[str, DataFrame] = {}
    for mode in ("fast", "balanced", "comprehensive"):
        out = eng.synthesize(mode, text_col="content", id_col="node_id")
        mode_insights[mode] = sorted(out)
        for insight, df in out.items():
            pending.setdefault(insight, df)
    # ONE action for every distinct insight count (r16): the r10
    # memoization already cut 6 materializations to 3, but each count
    # was still its own driver action × the local dispatch floor. A
    # union of one-row count aggregates collects all three in a
    # single job; count(lit(1)) over the same lazy plan is the same
    # number df.count() returned.
    agg = None
    for insight in sorted(pending):
        one = (pending[insight]
               .agg(F.count(F.lit(1)).cast("long").alias("n"))
               .select(F.lit(insight).alias("k"), "n"))
        agg = one if agg is None else agg.unionAll(one)
    counts = {r["k"]: int(r["n"]) for r in agg.collect()}
    rows = [(mode, insight, counts[insight])
            for mode in ("fast", "balanced", "comprehensive")
            for insight in mode_insights[mode]]
    return (spark.createDataFrame(
        rows, "mode string, insight string, n bigint")
        .orderBy("mode", "insight"))


def q142_export_formats(spark, sf):
    """Graph export sinks byte-exact (data_exporter.py:244-617): the
    nation→region graph writes through the Cypher, Gremlin, RDF/Turtle
    and GraphML writers; every emitted LINE is read back and compared
    against the oracle's string reconstruction — headers, footers,
    label upper-casing, URI sanitization and all. (JSON and CSV sinks
    are round-trip-proven by q116/q120.)"""
    import os
    import tempfile

    from memory_engine_spark.sources import export as export_mod

    edges = (_edges(spark, sf)
             .filter(F.col("relation_type") == "in_region")
             .select("from_id", "to_id", "relation_type"))
    nodes = (edges.select(F.col("from_id").alias("node_id"))
             .unionByName(edges.select(F.col("to_id").alias("node_id")))
             .distinct())
    base = os.path.join(
        tempfile.gettempdir(),
        f"me_q142_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    os.makedirs(base, exist_ok=True)
    export_mod.export_cypher(nodes, edges, os.path.join(base, "g.cypher"))
    export_mod.export_gremlin(nodes, edges, os.path.join(base, "g.gremlin"))
    export_mod.export_rdf(nodes, edges, os.path.join(base, "g.ttl"))
    export_mod.export_graphml(nodes, edges, os.path.join(base, "g.graphml"))
    parts = [
        spark.read.text(os.path.join(base, name)).select(
            F.lit(fmt).alias("fmt"), F.col("value").alias("line"))
        for fmt, name in [("cypher", "g.cypher"), ("gremlin", "g.gremlin"),
                          ("rdf", "g.ttl"), ("graphml", "g.graphml")]
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fmt", "line")


def q143_import_merge(spark, sf):
    """Import + validate + merge (data_importer.py:42-553): a CSV batch
    re-imports through schema inference + type alignment, in-file
    duplicate keys collapse to the DETERMINISTIC sorts-first survivor
    (the 'AUPD_' rows beat their 'UPD_' twins), and the batch MERGEs
    into the existing table — imported rows win on key conflict,
    untouched rows pass through, new keys insert."""
    import os
    import tempfile

    from memory_engine_spark.sources.export import export_csv, import_with_merge

    cust = _t(spark, sf)["customer"]
    existing = (cust.filter(F.col("c_custkey") <= 200)
                .select("c_custkey", "c_name", "c_nationkey"))
    upd = lambda pre: F.concat(F.lit(pre),
                               F.col("c_custkey").cast("string")).alias("c_name")
    inc1 = (cust.filter(F.col("c_custkey").between(101, 250))
            .select("c_custkey", upd("UPD_"), "c_nationkey"))
    inc2 = (cust.filter(F.col("c_custkey").between(101, 250)
                        & (F.col("c_custkey") % 10 == 0))
            .select("c_custkey", upd("AUPD_"), "c_nationkey"))
    path = os.path.join(
        tempfile.gettempdir(),
        f"me_q143_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    export_csv(inc1.unionByName(inc2), path)
    merged = import_with_merge(spark, path, existing, key="c_custkey",
                               fmt="csv")
    return merged.orderBy("c_custkey")


def q144_chunked_results(spark, sf):
    """Chunked streaming query results (enhanced_mcp.py:139-213 via
    ``MemoryEngine.stream_query``): ONE job drained partition-at-a-time
    through toLocalIterator, re-chunked at 100 rows with progress/done
    metadata. The output is the per-chunk inventory (count, key range,
    done flag) — the oracle re-derives it from row_number buckets."""
    from memory_engine_spark.engine import MemoryEngine
    from memory_engine_spark.session import EngineSession

    s = EngineSession(spark)
    s.register("orders", _t(spark, sf)["orders"])
    eng = MemoryEngine(s)
    spec = (QuerySpec("orders")
            .filter("o_totalprice", "gt", 300000.0)
            .sort("o_orderkey").page(0, 450)
            .select("o_orderkey", "o_totalprice"))
    rows = []
    for i, ch in enumerate(eng.stream_query(spec, chunk_size=100)):
        ks = [r["o_orderkey"] for r in ch["rows"]]
        rows.append((i, len(ks), min(ks) if ks else None,
                     max(ks) if ks else None, bool(ch["done"])))
    return (spark.createDataFrame(
        rows, "chunk_id int, n bigint, first_key bigint, "
              "last_key bigint, done boolean")
        .orderBy("chunk_id"))


def q145_vector_store_crud(spark, sf):
    """Vector-store CRUD cycle (vector_store_interface.py add/update/
    delete/search as set operations): 20 inserts + 10 in-place updates
    via ``upsert`` (anti-join + union), a batch delete (anti-join),
    then top-10 cosine search over the mutated store. The synthetic
    vectors are integer-valued (exact in float32 transport), so the
    whole cycle — including the search scores — is hash-checked."""
    from memory_engine_spark.operators.merging import delete_rows, upsert

    emb = _t(spark, sf)["embeddings"].select("vec_id", "embedding")

    def synth(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (((F.col("id") + 1) * (j + 1)) % 7 - 3)
                .cast("float")).alias("embedding"))

    store = upsert(emb, synth(1000, 1020).unionByName(synth(0, 10)),
                   "vec_id")
    # Delete set derived FROM THE STORE (r05 ADVICE): a literal
    # range(0, 1020) id list silently diverges from the oracle's
    # store-wide `vec_id % 17 <> 0` filter at any SF where the
    # embeddings table has vec_id >= 1020.
    dead = store.filter(F.col("vec_id") % 17 == 0).select("vec_id")
    store = delete_rows(store, dead, "vec_id")
    n_store = store.count()
    qv = [float(((0 + 1) * (j + 1)) % 7 - 3) for j in range(64)]
    return (similarity.topk_brute(store, qv, k=10, id_col="vec_id")
            .select("vec_id", F.round("score", 6).alias("score"),
                    F.lit(n_store).cast("bigint").alias("n_store")))


def q146_skew_tools(spark, sf):
    """Skew-mitigation toolkit (SURVEY §4.2): ``salted_join`` (small
    side replicated ×8, big side salted — the hot key spreads over 8
    tasks) and ``two_phase_count`` (per-(key,salt) partials, then key
    totals). Both are RESULT-IDENTICAL to their unsalted forms, which
    is exactly what the oracle states: the plain join/agg SQL. The
    salt itself is random per run — the gate proves the invariant."""
    from memory_engine_spark.operators.skew import salted_join, two_phase_count

    t = _t(spark, sf)
    big = (t["lineitem"].filter(F.col("l_orderkey") < 2000)
           .select("l_orderkey",
                   F.col("l_quantity").cast("decimal(18,2)").alias("qty")))
    small = t["orders"].select(F.col("o_orderkey").alias("l_orderkey"),
                               "o_orderpriority")
    joined = (salted_join(big, small, "l_orderkey", salt_buckets=8)
              .groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.round(F.sum("qty").cast("double"), 2).alias("qty"))
              .select(F.lit("salted_join").alias("section"),
                      F.col("o_orderpriority").alias("key"), "n", "qty"))
    counted = (two_phase_count(t["events"], "event_type", salt_buckets=8)
               .select(F.lit("two_phase_count").alias("section"),
                       F.col("event_type").alias("key"),
                       F.col("count").cast("bigint").alias("n"),
                       F.lit(None).cast("double").alias("qty")))
    return joined.unionByName(counted).orderBy("section", "key")


def q147_bpe_encode(spark, sf):
    """BPE encoder (corpus.bpe_encode) over the rules q138's trainer
    learns from the same corpus: per-document word and subword-piece
    counts. The oracle re-derives the 10 merge rules with the q138 CTE
    chain and applies them through the SAME delimiter-doubling replace
    to the full distinct-word dictionary — so a single wrong merge
    application in ANY word flips a doc's piece sum and fails the
    hash. Scale shape: merges run once per DISTINCT word, the tiny
    word→pieces dictionary broadcasts back, and the only full-width
    shuffle keys on doc_id."""
    docs = _t(spark, sf)["documents"]
    m = corpus.bpe_train(docs, "text", n_merges=10, top_words=400)
    return (corpus.bpe_encode(docs, "text", "doc_id", m)
            .orderBy("doc_id").limit(200))


def q148_hnsw_search(spark, sf):
    """Hierarchical graph-ANN search (similarity.hnsw_search — HNSW's
    coarse-to-fine descent, Malkov & Yashunin TPAMI'20): md5-geometric
    levels (p=16), top layer scanned (|V|/256 nodes), middle layer
    beam-searched over its own offline kNN subgraph
    (.derived/<sf>/hnsw16), base layer = the q114 beam over knng8.
    Every stage — the level draw, both layer graphs, all beam
    rounds — unrolls to SQL, so the hierarchy's approximation error
    is itself oracle-pinned. Query = vec 7's embedding; top-5."""
    emb = _t(spark, sf)["embeddings"]
    idx = _hnsw_index(spark, sf)
    qv = [float(x) for x in
          emb.filter("vec_id = 7").first()["embedding"]]
    return (similarity.hnsw_search(
        _knn_graph(spark, sf), idx["upper"], idx["levels"], emb, qv,
        beam=8, n_iter=3, k=5, upper_beam=4, upper_iter=2)
        .orderBy(F.col("score").desc(), F.col("vec_id").asc()))


def q149_corpus_pipeline(spark, sf):
    """The end-to-end pre-training corpus pipeline as ONE declarative
    plan — the composition story: Gopher quality gate (q56) → exact
    dedup survivors (q12's normalized-hash rule) → decontamination
    anti-join vs the src0 'benchmark' slice (q58) → sequence packing
    (q69). Output = the per-stage audit trail (stage, n, m): n = doc
    count (sequences for the packed stage), m = char sum (total tokens
    for the packed stage) — every stage's survivor set is pinned by
    both measures, and the oracle chains the same four proven SQL
    fragments. One Catalyst plan end to end: the gate is a projection,
    dedup one hash shuffle, decontamination a broadcast fingerprint
    join, packing the q69 two-phase prefix sum."""
    # Spread the single-file documents table before the regex-heavy
    # stages: one tiny doc_id shuffle up front parallelizes the whole
    # pipeline (at corpus scale the input arrives in many splits and
    # this repartition is the no-op it should be — here it is the
    # difference between 1 task and 32 doing the string work).
    n_parts = spark.sparkContext.defaultParallelism
    docs = (_t(spark, sf)["documents"]
            .repartition(n_parts, "doc_id").transform(_lc))
    # Corpus-tuned gate thresholds (Gopher's own paper tunes per
    # corpus): the canned stopword test is vacuous on this synthetic
    # vocabulary (no English stopwords exist → keep=false for ALL
    # docs), so the gate here uses the q56 signals with word_count ≥
    # 40 and the stopword clause dropped — a real split (~⅓ culled),
    # not a rubber stamp.
    kept = (text.gopher_filter(docs, "text", "doc_id")
            .filter((F.col("word_count") >= 40)
                    & (F.col("word_count") <= 100000)
                    & (F.col("mean_word_length") >= 3)
                    & (F.col("mean_word_length") <= 10)
                    & (F.col("symbol_word_ratio") <= 0.1)
                    & (F.col("bullet_line_ratio") <= 0.9)
                    & (F.col("ellipsis_line_ratio") <= 0.3)
                    & (F.col("alpha_word_ratio") >= 0.8))
            .select("doc_id"))
    # Checkpoint the gate output: FOUR downstream consumers (dedup,
    # decontamination, packing, and the stage aggregates) would each
    # re-run the regex-heavy signal projection otherwise. At corpus
    # scale this is the standard stage-boundary materialization a
    # pipeline writes between passes anyway.
    # The explicit repartition before each checkpoint matters: the
    # survivor frames are KB-sized but their downstream fingerprint/
    # packing projections are CPU-heavy, so AQE's byte-based coalesce
    # would fold them into one task (the q67 lesson, PLANS.md);
    # a checkpointed explicit exchange pins the parallelism.
    s1 = (docs.join(kept, "doc_id")
          .repartition(n_parts, "doc_id").transform(_lc))
    surv = (s1.select("doc_id",
                      F.md5(dedup.normalized(F.col("text"))).alias("_h"))
            .groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    # s2/s3 checkpoints are LAZY (r16, guide §1.2): docs and s1 stay
    # EAGER (they pin the regex-heavy gate once), but past s1's
    # blocks these are cheap hash joins — materializing them inside
    # the final 5-branch union action saves two driver actions
    # (~0.3 s local dispatch each) with the same lineage truncation
    # and the same pinned parallelism (the repartition stays in plan).
    s2 = (s1.join(surv, "doc_id")
          .repartition(n_parts, "doc_id").transform(_lc_lazy))
    bench = docs.filter(F.col("source") == "src0")
    train = s2.filter(F.col("source") != "src0")
    contaminated = text.decontaminate(
        train, bench, "text", "doc_id", window=8).select("doc_id")
    s3 = (train.join(contaminated, "doc_id", "left_anti")
          .repartition(n_parts, "doc_id").transform(_lc_lazy))
    packed = corpus.pack_sequences(
        s3, F.size(dedup.tokens(F.col("text"))), budget=512,
        id_col="doc_id", n_shards=8, salt="pack")

    def stage(name, df):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint")
            .alias("m")).select(F.lit(name).alias("stage"), "n", "m")

    st4 = (packed.agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("_t"))
           .select(F.lit("4_packed").alias("stage"),
                   F.ceil(F.col("_t") / F.lit(512.0)).cast("bigint")
                   .alias("n"),
                   F.col("_t").cast("bigint").alias("m")))
    return (stage("0_raw", docs)
            .unionByName(stage("1_quality", s1))
            .unionByName(stage("2_dedup", s2))
            .unionByName(stage("3_decontam", s3))
            .unionByName(st4)
            .orderBy("stage"))


def q150_quality_probe(spark, sf):
    """Model-based quality filter trained IN the engine
    (corpus.logistic_probe — the fasttext/CCNet-style linear probe):
    3 full-batch GD steps over 64-bucket hashed bag-of-words features,
    label = doc contains the 'dup' marker token (the learnable signal
    in this synthetic corpus: source labels are BoW-independent by
    construction, so the probe instead demonstrates discovering a
    marker token's hash bucket), then per-doc scoring. The oracle unrolls
    all 3 steps — every z sum is BIGINT femto-units, every gradient
    BIGINT pico-units, and the link is the RATIONAL fast sigmoid
    0.5 + 0.5·z/(1+|z|), so no engine-local exp()/float-ordering ever
    reaches a hashed value (the q86 discipline applied to training).
    Output = every labeled doc's score, doc_id order.

    Latency (r16, guide §1.2): the class-balance statistics ride the
    probe's persisted label frame as a broadcast 1-row aggregate
    (``label_aux``) instead of a separate up-front ``.first()`` —
    the balanced weights n_all/(2·n_pos) and n_all/(2·(n_all−n_pos))
    are the same correctly-rounded IEEE doubles whether computed by
    Python from collected longs or by SQL from the same longs, so the
    scores are bit-identical (oracle re-proven at both SFs). The
    degenerate guard (no positives / no negatives / empty corpus →
    weight 1.0, r05 ADVICE) moves into the same expression."""
    from memory_engine_spark.operators.dedup import tokens as _toks
    docs = (_t(spark, sf)["documents"]
            .withColumn("is_pos",
                        F.array_contains(_toks(F.col("text")),
                                         "dup").cast("int")))
    stats = docs.agg(
        F.coalesce(F.sum("is_pos"), F.lit(0)).cast("long").alias("_np"),
        F.count(F.lit(1)).alias("_na"))
    degenerate = (F.col("_np") == 0) | (F.col("_np") == F.col("_na"))
    _w, scored = corpus.logistic_probe(
        docs, "text", "doc_id", "is_pos", dim=64, n_steps=3, lr=50.0,
        pos_weight=F.when(degenerate, F.lit(1.0)).otherwise(
            F.col("_na") / (F.lit(2.0) * F.col("_np"))),
        neg_weight=F.when(degenerate, F.lit(1.0)).otherwise(
            F.col("_na") / (F.lit(2.0) * (F.col("_na") - F.col("_np")))),
        prebuilt_feats=_probe_feats(spark, sf), label_aux=stats)
    return scored.orderBy("doc_id")


def q152_int8_ann(spark, sf):
    """int8-quantized ANN (similarity.topk_int8): candidates ranked by
    the exact-integer dot product of the q71 codes, top-50 re-ranked
    by exact float cosine. Query = vec 3's own code row, so BOTH
    stages — the quantization, the integer candidate order, and the
    re-rank — unroll to SQL and the compression's approximation error
    is oracle-pinned. Top-10. The code table is the offline
    ``.derived/<sf>/int8`` artifact (``_int8_codes``) — the query path
    never quantizes; it scans the 4×-smaller codes parquet."""
    emb = _t(spark, sf)["embeddings"]
    qz = _int8_codes(spark, sf)
    qrow = qz.filter("vec_id = 3").select("qvec").first()["qvec"]
    qvec = [float(x) for x in
            emb.filter("vec_id = 3").first()["embedding"]]
    return (similarity.topk_int8(emb, qvec, [int(v) for v in qrow],
                                 k=10, n_candidates=50, id_col="vec_id",
                                 prebuilt_qz=qz)
            .orderBy(F.col("score").desc(), F.col("vec_id").asc()))


_Q151_SEQ = [0]


def q151_stream_dedup(spark, sf):
    """The custom STATEFUL streaming dedup operator under the oracle
    gate (streaming/stateful.streaming_dedup — applyInPandasWithState,
    the reference's pub/sub at-most-once delivery semantics as real
    MicroBatchExecution state): events stream through the symlinked
    file source, the first row per (user_id, event_type) key passes,
    later ones drop. The pre-dedup projection keeps ONLY
    key-determined columns, so the surviving rows are independent of
    arrival order and the drained sink equals the plain batch
    DISTINCT — which is exactly what the oracle states. Output =
    per-event_type distinct-user counts from the drained sink."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.streaming.stateful import streaming_dedup

    d = os.path.join(
        tempfile.gettempdir(),
        f"me_sdedup_{os.path.basename(sf.rstrip('/')) or 'd'}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    os.symlink(os.path.join(sf, "events.parquet"),
               os.path.join(d, "events.parquet"))
    schema = _t(spark, sf)["events"].schema
    src = (spark.readStream.schema(schema).parquet(d)
           .select("user_id", "event_type",
                   F.concat_ws("|", "user_id", "event_type").alias("k")))
    deduped = streaming_dedup(src, key_col="k")
    _Q151_SEQ[0] += 1
    name = f"q151_sink_{os.getpid()}_{_Q151_SEQ[0]}"
    # State-stage sizing (q123/q124/q125's 8-partition window) was
    # A/B'd here in r17 WITH the order-insensitivity proof the r16
    # round required (the pre-dedup projection keeps only
    # key-determined columns — user_id/event_type are the components
    # of k — so every row sharing a dedup key is byte-identical and
    # the per-key "first" is arrival-order/partitioning independent;
    # oracle --exact stayed green under 8 partitions at both SFs).
    # MEASURED NEGATIVE and reverted: isolated quiet min-of-5
    # 1.656 s at 32 partitions → 2.506 s at 8. Unlike the JVM
    # state-store aggregations in q123/q124, this stage is
    # applyInPandasWithState — a PYTHON stage whose per-group pandas
    # work dominates the per-store overhead, so shrinking the stage
    # caps Python-worker parallelism 32→8. Correct sizing here
    # follows the scan, not the state.
    q = (deduped.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
            .orderBy("event_type"))


_Q153_SEQ = [0]


def q153_dlq_lifecycle(spark, sf):
    """The DLQ retry lifecycle under the oracle gate — the last
    tests-only §2.9 row (r05 VERDICT item 3). Reference semantics
    (event_system.py:88-98, :169-196, :453-489): an event gets
    1 + MAX_RETRIES(=3) handler attempts (PENDING→IN_PROGRESS→FAILED→
    RETRYING…), then DEAD_LETTERs; retry_failed_event re-runs dead
    events, clearing the ones that now succeed. Driven as a REAL
    MicroBatchExecution subscriber (EventBus.run_subscriber_per_event)
    whose handler deterministically fails by event_id % 10:
    0–5 succeed on attempt 1; 6–7 fail twice then succeed (attempt 3);
    8–9 exhaust all 4 attempts → DLQ; a patched handler's manual
    retry (attempt 5) clears bucket 8, bucket 9 stays dead. Output =
    the per-(type, final status, attempts) census from the engine's
    attempts LEDGER — every lifecycle transition is a parquet
    artifact, not a log line — plus the post-retry DLQ size."""
    import os
    import shutil
    import tempfile

    from memory_engine_spark.streaming.events import EventBus, Subscriber

    ev = _t(spark, sf)["events"]
    _Q153_SEQ[0] += 1
    root = os.path.join(
        tempfile.gettempdir(),
        f"me_dlq_{os.path.basename(sf.rstrip('/')) or 'd'}"
        f"_{os.getpid()}_{_Q153_SEQ[0]}")
    shutil.rmtree(root, ignore_errors=True)
    bus = EventBus(spark, root, schema=ev.schema)
    bus.publish(ev.filter(F.col("event_id") < 4000))

    m = F.col("event_id") % 10

    def flaky(batch, attempt):
        # fails buckets 8-9 always, 6-7 until the 3rd attempt
        return batch.filter((m >= 8) | ((m >= 6) & (F.lit(attempt) < 3)))

    sub = Subscriber(name="census", handler=flaky,
                     event_types=["click", "view"])
    bus.run_subscriber_per_event(sub, once=True)
    patched = Subscriber(name="census",
                         handler=lambda batch, attempt: batch.filter(m == 9),
                         event_types=["click", "view"])
    bus.retry_dead_letters_per_event(patched)
    n_dlq = bus.dead_letters().count()

    per_event = (bus.attempts()
                 .groupBy("event_id", "event_type")
                 .agg(F.max("_attempt").alias("attempts"),
                      F.max_by("_status", "_attempt").alias("final_status")))
    out = (per_event.groupBy("event_type", "final_status", "attempts")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
           .withColumn("attempts", F.col("attempts").cast("bigint"))
           .withColumn("n_dlq", F.lit(n_dlq).cast("bigint"))
           .orderBy("event_type", "final_status", "attempts")
           # materialize BEFORE the bus dir is deleted
           .transform(_lc))
    shutil.rmtree(root, ignore_errors=True)
    return out


Q154_PHRASES = [
    "however the results disagree",        # opposing
    "additionally it supports the claim",  # complementary
    "alternatively another approach works",  # alternative
    "experts believe this is good",        # stakeholder
    "the methodology is sound",            # methodological
    "plain",                               # none
    "results are stable",                  # none
]


def q154_perspective_report(spark, sf):
    """Per-topic PerspectiveAnalysisReport parity (r05 VERDICT item 5;
    perspective_analysis.py:96-110,1440-1530): beyond q53's types +
    consensus names, this carries the report's evidence summaries
    (per-type doc counts, avg confidence/evidence-quality under the
    reference's :896-947 formulas), the agreement matrix (summary
    stats AND the sorted pair|sim string), disagreement areas (the 9
    opposing keyword pairs, :1243-1254), and analysis_confidence
    (:1343-1364) — topic = document source, one distributed plan."""
    from memory_engine_spark.operators import perspectives as pers

    docs = _t(spark, sf)["documents"]
    # The synthetic corpus vocabulary contains no indicator keywords, so
    # seed a deterministic per-doc stance phrase (doc_id % 7 — five
    # indicator-bearing, two neutral) the oracle reproduces verbatim;
    # the report operator itself sees ordinary text columns.
    phr = F.array(*[F.lit(p) for p in Q154_PHRASES])
    seeded = docs.withColumn(
        "text",
        F.concat(F.element_at(phr, (F.col("doc_id") % 7).cast("int") + 1),
                 F.lit(" "), F.col("text")))
    return (pers.perspective_report(seeded, "source", "text", "doc_id")
            .orderBy("topic"))


def _media_docs(spark, sf):
    """doc_id source for the codec queries, repartitioned to the
    cluster's parallelism BEFORE the Arrow synth/decode stages. The
    small-SF documents table is a single parquet file → one scan
    partition → every downstream ``mapInPandas`` codec stage would
    run on ONE core (measured: q166 6.8 s → 0.9 s warm at sf0.1 from
    this change alone). The round-robin exchange moves only the
    doc_id longs — negligible next to per-row decode. At 100 TB the
    scan itself provides the parallelism and this repartition
    collapses to a cheap rebalance; it is the module-docstring
    "repartition by byte budget" rule applied at the query seam."""
    return (_t(spark, sf)["documents"].select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism))


def q155_audio_features(spark, sf):
    """REAL audio decode under the oracle gate (r05 VERDICT item 7 —
    replaces the q115 audio stand-in for kind='wav'): each document
    synthesizes a spec-complete PCM16 WAV payload (RIFF+fmt+data,
    multimodal.synth_wav_pcm16) whose samples follow a deterministic
    doc_id formula; multimodal.audio_energy_features then WALKS THE
    ACTUAL BYTES — RIFF chunk scan, fmt parse, int16 LE sample decode
    — and emits header facts + 8 per-window mean-square energies
    (exact int64 sums, one trailing division). The oracle recomputes
    the same energies from the sample FORMULA, so a decode bug
    anywhere in the byte path (chunk alignment, signedness,
    window split) breaks the hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 400 + (d % 5) * 80
                k = np.arange(n, dtype=np.int64)
                s = ((d * 31 + k * 7) % 65536) - 32768
                ids.append(f"m_{d}")
                payloads.append(
                    multimodal.synth_wav_pcm16(s, sample_rate=8000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    feats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.audio_energy_features, n_windows=8)
    return (feats.select(
        "media_id", "sample_rate", "duration_s", "n_samples",
        *[F.col("energy")[i].alias(f"e{i}") for i in range(8)])
        .orderBy("media_id"))


def q156_png_pixels(spark, sf):
    """REAL image pixel decode under the oracle gate (r06 VERDICT
    item 8 — finishes the last multimodal stand-in with zero new
    dependencies): each document synthesizes a spec-complete RGB PNG
    (signature + IHDR + zlib IDAT + CRC32s, multimodal.synth_png)
    whose pixels follow a deterministic doc_id formula and whose
    scanline FILTERS rotate through all five spec types ((doc_id+row)
    % 5); multimodal.png_pixel_stats then WALKS THE ACTUAL BYTES —
    chunk scan, zlib inflate, Sub/Up/Average/Paeth unfiltering — and
    emits exact int64 per-channel pixel sums and sums-of-squares.
    The oracle recomputes both from the pixel FORMULA, so an
    unfilter, chunk-walk, or inflate bug anywhere breaks the hash.
    (The encode/decode pair itself is additionally pinned against
    hand-computed spec vectors in tests — a mutually-cancelling
    filter bug would survive this oracle.)"""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 + (d % 3) * 4, 6 + (d % 4) * 2
                r = np.arange(h).reshape(h, 1, 1)
                c = np.arange(w).reshape(1, w, 1)
                ch = np.arange(3).reshape(1, 1, 3)
                px = ((d * 31 + r * 17 + c * 7 + ch * 5) % 256) \
                    .astype(np.uint8)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_png(
                    px, row_filters=[(d + rr) % 5 for rr in range(h)]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    stats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.png_pixel_stats)
    return (stats.select(
        "media_id", "width", "height", "channels",
        *[F.col("csum")[i].alias(f"s{i}") for i in range(3)],
        *[F.col("csqsum")[i].alias(f"q{i}") for i in range(3)])
        .orderBy("media_id"))


def q158_ivf_int8_ann(spark, sf):
    """IVF-bucketed int8 ANN (similarity.topk_ivf_int8 — the FAISS
    IVF_SQ8 shape): probe 8 of 16 cells by centroid cosine, rank
    candidates inside the probed cells by the exact-integer dot
    product of the offline int8 codes (the `.derived/<sf>/int8c`
    codes-by-cell artifact — partition-pruned AND 4× smaller than the
    float scan), top-50 re-ranked by exact float cosine. Query =
    vec 3's own code row (q152's convention), so the coarse probe,
    the quantized candidate order, and the re-rank all unroll to SQL
    and the composed index's approximation error is oracle-pinned.
    Top-10."""
    cents, _ = _ivf(spark, sf, nlist=16)
    cc = _int8_cells(spark, sf, nlist=16)
    emb = _t(spark, sf)["embeddings"]
    qrow = _int8_codes(spark, sf).filter("vec_id = 3") \
        .select("qvec").first()["qvec"]
    qvec = [float(x) for x in
            emb.filter("vec_id = 3").first()["embedding"]]
    return (similarity.topk_ivf_int8(
        cc, cents, qvec, [int(v) for v in qrow], emb,
        k=10, nprobe=8, n_candidates=50, id_col="vec_id")
        .orderBy(F.col("score").desc(), F.col("vec_id").asc()))


def q159_g711_audio(spark, sf):
    """REAL compressed-audio decode under the oracle gate (upgrades
    the `fake_decode_audio` stand-in for the telephony codecs): each
    document synthesizes a spec-complete ITU-T G.711 WAV — even
    doc_ids μ-law (fmt tag 7), odd A-law (tag 6), 18-byte fmt chunk
    with cbSize — whose LINEAR samples follow a deterministic doc_id
    formula, companded by `ulaw_encode`/`alaw_encode` (verified
    against the Sun g711.c scalar reference on all 65536 inputs);
    `audio_energy_features` then WALKS THE ACTUAL BYTES — RIFF walk,
    fmt-tag dispatch, 256-entry expand LUTs — and emits window
    energies over the DECODED (quantized) samples. The oracle replays
    the full compand→expand quantizer in pure integer SQL (segment
    CASE ladders), so an encode table, bias, segment-boundary, or
    byte-path bug anywhere breaks the hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 320 + (d % 5) * 80
                k = np.arange(n, dtype=np.int64)
                s = ((d * 37 + k * 11) % 65536) - 32768
                law = "ulaw" if d % 2 == 0 else "alaw"
                ids.append(f"m_{d}")
                payloads.append(
                    multimodal.synth_wav_g711(s, law=law, sample_rate=8000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    feats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.audio_energy_features, n_windows=8)
    return (feats.select(
        "media_id", "audio_fmt", "sample_rate", "n_samples",
        *[F.col("energy")[i].alias(f"e{i}") for i in range(8)])
        .orderBy("media_id"))


def q162_jpeg_pixels(spark, sf):
    """REAL baseline JPEG decode under the oracle gate (finishes the
    image pillar: PNG/BMP/GIF/JPEG all decode from actual bytes):
    each document synthesizes a spec-complete grayscale baseline JPEG
    (Annex K luminance quant + Huffman tables, 16×16 = 4 MCUs) whose
    QUANTIZED coefficients follow a deterministic
    (doc_id, block, u, v) formula — sparse low-frequency coefficients
    plus a lone zigzag-40 coefficient on every third (doc+block) to
    force ZRL runs; `decode_jpeg_gray` then WALKS THE ACTUAL BYTES —
    segment parse, canonical Huffman rebuild, bit-unstuffing, DC
    prediction across the 4 blocks, EXTEND sign recovery, dezigzag,
    dequant, and the exact fixed-point integer IDCT — and emits exact
    per-block pixel sums. The oracle replays dequant+IDCT
    relationally (coefficient grid × cosine fixed-point table joined
    twice), so a Huffman, bit-order, predictor, zigzag, or transform
    bug anywhere breaks the hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        zz40 = multimodal._JPEG_ZZ[40]

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                blocks = []
                for b in range(4):
                    blk = [0] * 64
                    for u in range(8):
                        for v in range(8):
                            if u + v <= 2:
                                blk[u * 8 + v] = \
                                    ((d * 7 + b * 11 + u * 5 + v * 3) % 9) - 4
                    if (d + b) % 3 == 0:
                        blk[zz40] = ((d + b) % 5) - 2
                    blocks.append(blk)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_jpeg_gray(blocks, 16, 16))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    def stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = multimodal.decode_jpeg_gray(bytes(payload)) \
                    .astype(np.int64)
                for b in range(4):
                    by, bx = divmod(b, 2)
                    blk = px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                    rows.append({
                        "media_id": mid, "bx": bx, "by": by,
                        "psum": int(blk.sum()),
                        "psqsum": int((blk * blk).sum())})
            yield pd.DataFrame(
                rows, columns=["media_id", "bx", "by", "psum", "psqsum"])

    return (docs.select("doc_id").mapInPandas(
        lambda it: stats(synth(it)),
        "media_id string, bx int, by int, psum long, psqsum long")
        .orderBy("media_id", "by", "bx"))


def q163_jpeg_color(spark, sf):
    """REAL baseline COLOR JPEG decode under the oracle gate (extends
    q162 to the 3-component interleaved scan): per document a 4:4:4
    YCbCr JPEG — two quant tables (Annex K luminance + chrominance),
    four Huffman tables (separate luma/chroma DC+AC), per-component
    DC predictors across interleaved MCUs — whose quantized
    coefficients follow a (doc_id, block, component, u, v) formula;
    `decode_jpeg_color` walks the actual bytes (multi-table
    DQT/DHT, SOS table bindings, interleaved MCU entropy decode,
    integer IDCT per component) and applies the JFIF YCbCr→RGB
    conversion in exact 16-bit fixed point. The oracle replays
    dequant+IDCT per component AND the fixed-point color conversion
    relationally; per-block per-channel exact sums. A table-binding,
    predictor-interleave, or color-convert bug breaks the hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                comps = []
                for ci in range(3):
                    blocks = []
                    for b in range(4):
                        blk = [0] * 64
                        for u in range(8):
                            for v in range(8):
                                if u + v <= 2:
                                    blk[u * 8 + v] = ((d * 7 + b * 11
                                                       + ci * 13 + u * 5
                                                       + v * 3) % 9) - 4
                        blocks.append(blk)
                    comps.append(blocks)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_jpeg_color(comps, 16, 16))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    def stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = multimodal.decode_jpeg_color(bytes(payload)) \
                    .astype(np.int64)
                for b in range(4):
                    by, bx = divmod(b, 2)
                    blk = px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                    rows.append({
                        "media_id": mid, "bx": bx, "by": by,
                        "rsum": int(blk[:, :, 0].sum()),
                        "gsum": int(blk[:, :, 1].sum()),
                        "bsum": int(blk[:, :, 2].sum()),
                        "sqsum": int((blk * blk).sum())})
            yield pd.DataFrame(rows, columns=[
                "media_id", "bx", "by", "rsum", "gsum", "bsum", "sqsum"])

    return (docs.select("doc_id").mapInPandas(
        lambda it: stats(synth(it)),
        "media_id string, bx int, by int, rsum long, gsum long, "
        "bsum long, sqsum long")
        .orderBy("media_id", "by", "bx"))


def q164_jpeg_420(spark, sf):
    """REAL 4:2:0 subsampled JPEG decode under the oracle gate — the
    dominant real-world JPEG shape, and the last stubbed image path:
    per document a 32×16 two-MCU scan where Y is sampled 2×2 (four Y
    blocks per MCU, T.81 §A.2.3 row-major order) and Cb/Cr 1×1 (one
    half-resolution block per MCU). `decode_jpeg_color` walks the
    actual bytes — per-MCU interleave (Y00 Y01 Y10 Y11 Cb Cr),
    per-component DC prediction chains across MCUs, per-component
    IDCT — then upsamples chroma by replication and applies the
    fixed-point JFIF conversion. The oracle replays the whole thing
    relationally, with the pixel→block/plane index arithmetic
    (m = X//16, j = (Y//8)·2 + (X%16)//8, chroma (Y//2, (X%16)//2))
    in SQL — an interleave-order, predictor, or upsampling bug moves
    pixels and breaks the hash. Per-8×8-block RGB sums (8 rows/doc)."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)

                def blk(seed):
                    out = [0] * 64
                    for u in range(8):
                        for v in range(8):
                            if u + v <= 2:
                                out[u * 8 + v] = \
                                    ((seed + u * 5 + v * 3) % 9) - 4
                    return out

                yb = [blk(d * 7 + m * 17 + j * 11)
                      for m in range(2) for j in range(4)]
                cbb = [blk(d * 7 + m * 17 + 13) for m in range(2)]
                crb = [blk(d * 7 + m * 17 + 26) for m in range(2)]
                ids.append(f"m_{d}")
                payloads.append(
                    multimodal.synth_jpeg_420(yb, cbb, crb, 32, 16))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    def stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = multimodal.decode_jpeg_color(bytes(payload)) \
                    .astype(np.int64)
                for by in range(2):
                    for bx in range(4):
                        blk = px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                        rows.append({
                            "media_id": mid, "bx": bx, "by": by,
                            "rsum": int(blk[:, :, 0].sum()),
                            "gsum": int(blk[:, :, 1].sum()),
                            "bsum": int(blk[:, :, 2].sum()),
                            "sqsum": int((blk * blk).sum())})
            yield pd.DataFrame(rows, columns=[
                "media_id", "bx", "by", "rsum", "gsum", "bsum", "sqsum"])

    return (docs.select("doc_id").mapInPandas(
        lambda it: stats(synth(it)),
        "media_id string, bx int, by int, rsum long, gsum long, "
        "bsum long, sqsum long")
        .orderBy("media_id", "by", "bx"))


def q161_ima_adpcm_audio(spark, sf):
    """REAL stateful-codec decode under the oracle gate: IMA (DVI4)
    ADPCM — WAV fmt tag 0x11, 4 bits/sample, a per-sample
    predictor + step-index STATE MACHINE (unlike q159's stateless
    G.711 tables). Each document synthesizes a single-block ADPCM WAV
    (header sample + packed nibbles + fact chunk) from a
    deterministic sample formula; `decode_wav_pcm` walks the actual
    bytes — fact-chunk sample count, nibble unpack, the vpdiff
    accumulation — and window energies run over the DECODED stream.
    The oracle replays the encoder state machine as a RECURSIVE CTE
    (one iteration per sample; encoder and decoder share the vpdiff
    arithmetic exactly, so the decoded stream IS the encoder's
    predictor walk). Any step-table, index-clamp, nibble-order, or
    chunk bug desynchronizes the state and breaks the hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 97 + (d % 4) * 32
                k = np.arange(n, dtype=np.int64)
                s = ((d * 41 + k * 13) % 65536) - 32768
                ids.append(f"m_{d}")
                payloads.append(
                    multimodal.synth_wav_ima(s, sample_rate=8000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    feats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.audio_energy_features, n_windows=8)
    return (feats.select(
        "media_id", "audio_fmt", "sample_rate", "n_samples",
        *[F.col("energy")[i].alias(f"e{i}") for i in range(8)])
        .orderBy("media_id"))


def q160_avi_frame_sample(spark, sf):
    """REAL video container decode + frame sampling under the oracle
    gate (executes what `sample_frames` only schedules): each
    document synthesizes a spec-shaped AVI (RIFF hdrl/strl headers,
    rational frame rate in strh, LIST movi of '00db' raw 24-bit DIB
    frames, idx1) whose frame pixels follow a deterministic
    (doc_id, frame, row, col, channel) formula;
    `multimodal.avi_frame_stats` WALKS THE ACTUAL BYTES — nested
    LIST recursion, strh rate/scale, bottom-up padded BGR rasters —
    sampling every 0.5 s (stride round(0.5·fps)=2 at fps 4) and
    emitting exact int64 pixel sums per sampled frame. The oracle
    regenerates the sampled grid with a stepped range(), so a
    container-walk, stride, frame-index, or sampling-arithmetic bug
    breaks the hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                nf = 6 + (d % 4) * 2
                w, h = 8 + (d % 3) * 4, 6
                f = np.arange(nf).reshape(nf, 1, 1, 1)
                r = np.arange(h).reshape(1, h, 1, 1)
                c = np.arange(w).reshape(1, 1, w, 1)
                ch = np.arange(3).reshape(1, 1, 1, 3)
                px = ((d * 31 + f * 13 + r * 17 + c * 7 + ch * 5) % 256) \
                    .astype(np.uint8)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_avi(px, fps=4))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return (multimodal.fuse_synth_stage(
        docs, synth, multimodal.avi_frame_stats, every_s=0.5)
        .orderBy("media_id", "frame_idx"))


def q165_mp4_frame_sample(spark, sf):
    """REAL ISO-BMFF (MP4) demux + frame sampling under the oracle
    gate — q160's twin for the other canonical video container
    (reference treats video as opaque attachments; a training
    pipeline must demux it). Each document synthesizes a spec-shaped
    MP4 (ftyp/mdat/moov with real stts/stsz/stsc/stco sample tables,
    'raw ' RGB24 sample entry) whose frame pixels follow a
    deterministic (doc_id, frame, row, col, channel) formula;
    `multimodal.mp4_frame_stats` WALKS THE ACTUAL BYTES — box tree,
    mdhd timescale, stsc run resolution, stco chunk offsets, stsz
    accumulation — sampling every 0.4 s (stride round(0.4·5)=2 at
    fps 5) into exact int64 pixel sums. The oracle regenerates the
    sampled grid with a stepped range(), so a box-walk, sample-
    resolution, stride, or raster bug breaks the hash. Scale
    posture: stco/stsz offsets are the row-group analogue — frames
    are independently sliceable, so demux parallelizes by sample
    with no cross-frame state (same argument as AVI idx1)."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                nf = 5 + d % 5
                w, h = 6 + (d % 3) * 4, 4 + (d % 2) * 2
                f = np.arange(nf).reshape(nf, 1, 1, 1)
                r = np.arange(h).reshape(1, h, 1, 1)
                c = np.arange(w).reshape(1, 1, w, 1)
                ch = np.arange(3).reshape(1, 1, 1, 3)
                px = ((d * 29 + f * 19 + r * 11 + c * 7 + ch * 3) % 256) \
                    .astype(np.uint8)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_mp4(px, fps=5))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return (multimodal.fuse_synth_stage(
        docs, synth, multimodal.mp4_frame_stats, every_s=0.4)
        .orderBy("media_id", "frame_idx"))


def q166_flac_audio(spark, sf):
    """REAL FLAC decode under the oracle gate — the canonical
    LOSSLESS audio codec (RFC 9639), fully decodable with zero
    dependencies because prediction + Rice residuals are exact
    integer math (unlike the perceptual mp3/aac stubs, whose float
    filterbanks genuinely need codec libs). Each document synthesizes
    a spec-shaped mono 16-bit FLAC whose samples follow a
    deterministic formula and whose SUBFRAME TYPES rotate per
    (doc_id + frame): fixed orders 0-4, an LPC subframe (generic
    quantized-coefficient path), and verbatim — plus partial last
    blocks and partition-order-1 Rice. `multimodal.
    flac_audio_features` WALKS THE ACTUAL BYTES — metadata-block
    walk, CRC-8-verified frame headers, Huffman-free but
    bit-serial Rice decode, predictor recurrences, CRC-16 footers —
    into 8 exact window energies. The oracle recomputes them from
    the sample FORMULA, so a bit-reader, Rice, warmup, or recurrence
    bug breaks the hash; encode/decode bug cancellation is pinned
    separately by a hand-assembled byte vector in tests (wasted
    bits + escaped raw partitions). Scale posture: FLAC frames are
    independently decodable (byte-aligned, CRC-bounded) — the
    parallelism unit at 100 TB is the frame, like ADPCM's block."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 96 + (d % 4) * 32
                k = np.arange(n, dtype=np.int64)
                s = ((d * 37 + k * 13) % 2048) - 1024

                def plan(fi, d=d):
                    r = (d + fi) % 7
                    if r < 5:
                        return ("fixed", r)
                    return ("lpc", 2) if r == 5 else ("verbatim", 0)

                ids.append(f"m_{d}")
                payloads.append(
                    multimodal.synth_flac(s, subframe_plan=plan))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    feats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.flac_audio_features, n_windows=8)
    return (feats.select(
        "media_id", "sample_rate", "duration_s", "n_samples",
        *[F.col("energy")[i].alias(f"e{i}") for i in range(8)])
        .orderBy("media_id"))


def q167_flac_stereo(spark, sf):
    """STEREO FLAC with real interchannel decorrelation under the
    oracle gate — the codec feature q166's mono path can't reach:
    per frame the synth rotates ALL FOUR channel assignments
    (independent, left/side, right/side, mid/side — side carried at
    17 bits, mid's dropped low bit recovered from side parity).
    Left/right samples follow independent doc_id formulas;
    `multimodal.flac_audio_features` decodes the actual bytes and
    emits 4 exact window energies PER CHANNEL (channel-major). The
    oracle recomputes both channels from the formulas, so a
    decorrelation, parity, side-width (bps+1), or channel-order bug
    breaks the hash. Scale posture identical to q166: the frame is
    the parallelism unit."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 64 + (d % 4) * 32
                k = np.arange(n, dtype=np.int64)
                lft = ((d * 41 + k * 17) % 2048) - 1024
                rgt = ((d * 23 + k * 29) % 2048) - 1024
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_flac_stereo(lft, rgt))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    feats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.flac_audio_features, n_windows=4)
    return (feats.select(
        "media_id", "sample_rate", "n_channels", "n_samples",
        *[F.col("energy")[i].alias(f"e{i}") for i in range(8)])
        .orderBy("media_id"))


def q169_html_extract(spark, sf):
    """HTML main-content extraction under the oracle gate
    (trafilatura/jusText-style, simplified — the step a web corpus
    runs BEFORE every text filter): each document renders into a
    deterministic HTML page with real boilerplate — head (title/
    style/script with a raw '<' inside), a nav of links, an
    ad-block div, an entity-bearing trailer paragraph — and
    `text.html_main_content` extracts the main text: head/script/
    style dropped wholesale, block split at block-level tags, link-
    dominated blocks removed by the exact integer density test
    (2·anchor_chars > text_chars), survivors stitched in order and
    entity-decoded. Everything is JVM Column expressions over the
    Java∩RE2 regex subset, so the oracle replays the pipeline
    verbatim; md5 of the final text pins every step. Scale shape:
    posexplode per block + one groupBy(id) — no window, no Python."""
    from memory_engine_spark.operators.text import html_main_content

    # single-file scan → 1 partition; the regex-heavy block explode
    # needs the cluster (same rationale as _media_docs)
    docs = (_t(spark, sf)["documents"].select("doc_id", "source", "text")
            .repartition(spark.sparkContext.defaultParallelism))
    esc = F.replace(
        F.replace(F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                  F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"))
    html = F.concat(
        F.lit('<html><head><title>t</title><style>p{c:red}</style>'
              '<script>if(a<b){x(1)}</script></head><body>'
              '<nav><a href="/">Home</a> <a href="/a">About</a> '
              '<a href="/c">Contact</a></nav><h1>'),
        F.col("source"),
        F.lit('</h1><p>'), esc,
        F.lit(' <a href="/ref">ref</a></p>'
              '<div><a href="/b">Buy now</a> '
              '<a href="/s">Subscribe today</a> ok</div>'
              '<p>See &amp; read &lt;more&gt;&nbsp;here</p>'
              '</body></html>'))
    out = html_main_content(
        docs.select("doc_id", html.alias("html")), "html", "doc_id")
    return (out.select(
        "doc_id", F.md5("text").alias("text_hash"),
        "n_blocks", "n_kept",
        F.length("text").cast("int").alias("n_chars"))
        .orderBy("doc_id"))


ORC_PROBE_TABLES = ["customer", "documents", "embeddings", "events",
                    "nation", "part", "region", "supplier"]

# q190: every INT64 key column in the corpus (region/nation keys are
# INT32 in the driver's parquet — out of the honest INT64 subset)
PQ_INT64_COLS = [("customer", "c_custkey"), ("documents", "doc_id"),
                 ("embeddings", "vec_id"), ("events", "event_id"),
                 ("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
                 ("part", "p_partkey"), ("supplier", "s_suppkey")]

# q244: the corpus string (BYTE_ARRAY) columns — a spread of
# dictionary-friendly low-cardinality, PLAIN-fallback high-cardinality
# (s_name), long free text adjacent (lang/source), and tiny files
PQ_STRING_COLS = [("customer", "c_mktsegment"), ("documents", "lang"),
                  ("documents", "source"), ("events", "event_type"),
                  ("nation", "n_name"), ("orders", "o_orderpriority"),
                  ("part", "p_brand"), ("region", "r_name"),
                  ("supplier", "s_name")]


def _delta_synth_log(spark, sf):
    """q188/q196/q197/q198 shared synth: the Delta-shape action log
    as REAL JSON lines built with to_json (see q188's docstring for
    the formula and the add/remove/re-add lifecycle)."""
    f = F.col("doc_id")
    docs = _t(spark, sf)["documents"].select("doc_id")

    base = (docs.select(
        f.alias("f"),
        (f % 8).cast("int").alias("va"),
        (f % 4).cast("int").alias("part"),
        (1000 + (f * 37) % 5000).cast("long").alias("size"),
        (10 + (f * 13) % 90).cast("long").alias("nrec"),
        (f * 100).cast("long").alias("minid"))
        .withColumn("vrm", (F.col("va") + 1
                            + (F.col("f") % 3)).cast("int"))
        .withColumn("path", F.concat(
            F.lit("part-"),
            F.lpad(F.col("f").cast("string"), 5, "0"),
            F.lit(".parquet"))))

    def add_line(size, nrec, maxid):
        stats = F.to_json(F.struct(
            nrec.alias("numRecords"),
            F.struct(F.col("minid").alias("id")).alias("minValues"),
            F.struct(maxid.alias("id")).alias("maxValues")))
        return F.to_json(F.struct(F.struct(
            F.col("path").alias("path"),
            F.struct(F.col("part").cast("string").alias("part"))
            .alias("partitionValues"),
            size.alias("size"),
            F.lit(True).alias("dataChange"),
            stats.alias("stats")).alias("add")))

    adds = base.select(
        F.col("va").alias("version"), F.col("f").alias("seq"),
        add_line(F.col("size"), F.col("nrec"),
                 F.col("minid") + F.col("nrec") - 1).alias("line"))
    rm = (F.col("f") % 5 == 0) & (F.col("vrm") <= 7)
    removes = base.filter(rm).select(
        F.col("vrm").cast("int").alias("version"),
        F.col("f").alias("seq"),
        F.to_json(F.struct(F.struct(
            F.col("path").alias("path"),
            F.lit(True).alias("dataChange")).alias("remove")))
        .alias("line"))
    readds = base.filter((F.col("f") % 10 == 0)
                         & (F.col("vrm") <= 7)).select(
        F.lit(8).cast("int").alias("version"),
        F.col("f").alias("seq"),
        add_line(F.col("size") + 11, F.col("nrec") + 5,
                 F.col("minid") + F.col("nrec") + 4).alias("line"))
    meta = spark.range(1).select(
        F.lit(0).cast("int").alias("version"),
        F.lit(-1).cast("long").alias("seq"),
        F.to_json(F.struct(F.struct(F.struct(
            F.lit("parquet").alias("provider")).alias("format"))
            .alias("metaData"))).alias("line"))
    return (adds.unionByName(removes).unionByName(readds)
            .unionByName(meta))


def q207_preference_pairs(spark, sf):
    """DPO/RLHF preference-pair assembly under the oracle gate —
    the training-data construction step for preference optimization:
    within each source, documents ranked by an exact integer reward
    (n_chars here — the seam where a reward model plugs in) pair
    each document with its IMMEDIATE inferior (lag-1 window, (score
    desc, doc_id asc) tiebreak), gated by a minimum margin of 5 so
    near-ties never become training signal. Output carries both
    ids, both scores, the margin, and a content-addressed pair md5.
    One window per source + a filter — at 100 TB sources partition
    the window and the pairing never leaves the partition. The
    oracle replays the ranking, the lag, and the margin gate."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf)["documents"].select(
        "doc_id", "source", F.col("n_chars").alias("score"))
    w = W.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    paired = (docs
              .withColumn("rej_id", F.lead("doc_id").over(w))
              .withColumn("rej_score", F.lead("score").over(w))
              .filter(F.col("rej_id").isNotNull())
              .filter(F.col("score") - F.col("rej_score") >= 5))
    return (paired.select(
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
        F.col("rej_id").alias("rejected_id"),
        F.col("rej_score").alias("rejected_score"),
        (F.col("score") - F.col("rej_score")).alias("margin"),
        F.md5(F.concat_ws("|", "doc_id", "rej_id"))
        .alias("pair_md5"))
        .orderBy("source", F.col("chosen_score").desc(),
                 "chosen_id"))


def q204_inverted_index(spark, sf):
    """Inverted-index construction under the oracle gate — the
    sort-based posting-list assembly behind every IR/RAG retrieval
    stack: positional postings (doc, pos) per term, document and
    collection frequencies, and a CONTENT-ADDRESSED md5 of each
    term's canonically-ordered posting list ('doc:pos;...', sorted
    by (doc, pos)) so the oracle pins the complete index bytes, not
    just counts — an ordering or position bug anywhere breaks the
    hash. Round 8: this runs `ranking.inverted_index`'s SKEW-SAFE
    two-pass plan — doc-id RANGE-salted partial posting strings per
    (term, bucket) for terms over the hot-cf threshold, concatenated
    in bucket order in a second aggregate (range salting keeps the
    concatenation globally (doc,pos)-sorted, so the md5 is identical
    to the one-pass plan's; proven salted≡unsalted in
    tests/test_skew.py, and salted≡DuckDB-truth right here — the
    oracle is the UNSALTED textbook SQL). At 100 TB a Zipf-hot
    term's sort+collect spreads over the buckets instead of one
    reducer; the cold vocabulary tail keeps a single bucket so the
    extra shuffle stays ~1×."""
    from memory_engine_spark.operators.ranking import inverted_index

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    # hot_cf=500 puts the common-word head on the salted branch at the
    # driver's sf0.01 gate (max cf there ≈ 964), so the equivalence is
    # proven on the branch that matters, not just the cold tail.
    return (inverted_index(docs, salt_buckets=8, hot_cf=500)
            .orderBy("term"))


def q205_ab_test(spark, sf):
    """Two-proportion A/B significance test under the oracle gate —
    the experiment-analysis op an event platform runs constantly:
    users split by id parity into variants, conversion = the user's
    FIRST event (min (ts, event_id, type) — scale-stable ~1/5,
    unlike any ever-purchased flag which saturates as event density
    grows with SF) being a 'purchase', and the pooled two-proportion
    z-score computed from EXACT integer components (x_a, n_a, x_b,
    n_b) with a fixed-order float expression — sqrt is IEEE-754
    correctly-rounded in both engines, so even the surd is
    byte-stable. Output: both variants' counts/rates, z (6dp), and
    the |z| > 1.96 verdict. Relational shape: one distinct on
    (user, converted?) + one 2-group aggregate; nothing beyond the
    user dimension shuffles."""
    ev = _t(spark, sf)["events"].select("user_id", "ts", "event_id",
                                        "event_type")
    users = (ev.groupBy("user_id").agg(
        (F.min(F.struct("ts", "event_id", "event_type"))
         ["event_type"] == "purchase").cast("long").alias("conv"))
        .withColumn("variant",
                    F.when(F.col("user_id") % 2 == 0, "A")
                    .otherwise("B")))
    agg = (users.groupBy().pivot("variant", ["A", "B"]).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("x")))
    n_a, x_a = F.col("A_n"), F.col("A_x")
    n_b, x_b = F.col("B_n"), F.col("B_x")
    p_a, p_b = x_a / n_a, x_b / n_b
    pool = (x_a + x_b) / (n_a + n_b)
    se = F.sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))
    z = F.when(se > 0, (p_a - p_b) / se).otherwise(F.lit(0.0))
    return agg.select(
        x_a.alias("x_a"), n_a.alias("n_a"),
        x_b.alias("x_b"), n_b.alias("n_b"),
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"))


def q206_event_bigrams(spark, sf):
    """Sequential-pattern mining (order-2) under the oracle gate —
    the per-user event-transition census behind funnel discovery
    and Markov session models: each user's event stream ordered by
    (ts, event_id — the deterministic tiebreak for equal
    timestamps), lag-1 window produces transitions, global counts
    with distinct-user support, top 20 by (count desc, pair asc).
    One window partitioned by user + one groupBy — at 100 TB users
    partition the window and the transition vocabulary (|types|²)
    keeps the aggregate tiny. The oracle replays the window and the
    tiebreak, so an ordering bug surfaces as a different transition
    multiset."""
    ev = _t(spark, sf)["events"].select("user_id", "ts", "event_id",
                                        "event_type")
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.withColumn("prev", F.lag("event_type").over(w))
          .filter(F.col("prev").isNotNull())
          .select("user_id",
                  F.concat_ws(">", "prev", "event_type")
                  .alias("transition")))
    return (tr.groupBy("transition").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy(F.col("n").desc(), F.col("transition").asc())
        .limit(20))


def q202_incremental_agg(spark, sf):
    """Incremental view maintenance under the oracle gate — the
    0.01%-CDC-batch refresh that never rescans the 100-TB base: the
    maintained view is (o_orderpriority → order count + total cents,
    BIGINT-quantized price), the CDC batch derives deterministically
    from the base (orderkey%11==0 → delete: -1/-cents;
    orderkey%7==0 otherwise → update: 0/+cents÷10 floor), and
    `aggregates.merge_agg_deltas` applies the standard signed-delta
    IVM encoding as one full-outer merge with the delta broadcast.
    THE ORACLE IS THE FULL RECOMPUTE — post-change state derived
    directly from the base formula — so the query proves the IVM
    invariant (merge(view, Δ) ≡ recompute(base+Δ)) byte-exactly,
    including the dead-group drop. Output includes both old and new
    measures per priority."""
    from memory_engine_spark.operators.aggregates import (
        merge_agg_deltas)

    orders = _t(spark, sf)["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"))
    view = (orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents")))
    k = F.col("o_orderkey")
    deletes = (orders.filter(k % 11 == 0)
               .select("o_orderpriority",
                       F.lit(-1).cast("long").alias("n"),
                       (-F.col("cents")).alias("sum_cents")))
    updates = (orders.filter((k % 7 == 0) & (k % 11 != 0))
               .select("o_orderpriority",
                       F.lit(0).cast("long").alias("n"),
                       F.expr("cents div 10").alias("sum_cents")))
    delta = (deletes.unionByName(updates)
             .groupBy("o_orderpriority").agg(
                 F.sum("n").cast("long").alias("n"),
                 F.sum("sum_cents").cast("long").alias("sum_cents")))
    new = merge_agg_deltas(view, delta, ["o_orderpriority"])
    old = (view.withColumnRenamed("n", "n_old")
           .withColumnRenamed("sum_cents", "sum_cents_old"))
    return (new.join(old, "o_orderpriority")
            .select("o_orderpriority", "n_old", "sum_cents_old",
                    F.col("n").alias("n_new"),
                    F.col("sum_cents").alias("sum_cents_new"))
            .orderBy("o_orderpriority"))


def q203_bitmap_intersections(spark, sf):
    """Bitmap-index distinct intersections under the oracle gate —
    the roaring-bitmap pattern that turns COUNT(DISTINCT user ∩)
    across segments into bitwise math: users pack into 32-bit words
    (word = user div 32, bit = user mod 32 — 32 not 64 because a
    1<<63 sign-bit shift overflows DuckDB's checked BIGINT; the
    packing density halves, the asymptotics don't change) per
    event_type via
    BIT_OR aggregation, and every type-pair intersection is
    Σ bit_count(a AND b) over aligned words — one equi-join on the
    word index, integer-exact, no row-level distinct ever computed
    for the pairs. The oracle replays the packing and the popcount
    join. Scale posture: this is how a 100-TB engine answers
    audience-overlap queries — bitmap words partition by word index,
    the pair join touches |users|/64 rows per type, and the same
    words answer every pair."""
    ev = _t(spark, sf)["events"].select(
        "event_type", F.col("user_id").alias("u")).distinct()
    words = (ev.groupBy(
        "event_type", F.expr("u div 32").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(u % 32 AS INT))"))
             .alias("bits")))
    a = words.alias("a")
    b = words.alias("b")
    pairs = (a.join(b, (F.col("a.w") == F.col("b.w"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.sum(F.bit_count(F.col("a.bits")
                                    .bitwiseAND(F.col("b.bits"))))
                  .cast("long").alias("n_common")))
    singles = (words.groupBy("event_type")
               .agg(F.sum(F.bit_count("bits")).cast("long")
                    .alias("n_distinct")))
    return (pairs
            .join(singles.withColumnRenamed("event_type", "type_a")
                  .withColumnRenamed("n_distinct", "n_a"), "type_a")
            .join(singles.withColumnRenamed("event_type", "type_b")
                  .withColumnRenamed("n_distinct", "n_b"), "type_b")
            .select("type_a", "type_b", "n_a", "n_b", "n_common",
                    F.round(F.col("n_common")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_common")), 6)
                    .alias("jaccard"))
            .orderBy("type_a", "type_b"))


def q199_min_cost_supplier(spark, sf):
    """TPC-H Q2-shape correlated subquery, decorrelated the way
    Catalyst wants it (no partsupp table in this corpus — lineitem
    plays the supply-cost fact): for every STANDARD small part, the
    cheapest observed line price and the supplier achieving it
    (min-suppkey tiebreak for engine-stable output). The correlated
    'price = (SELECT MIN ...)' becomes a groupBy + an equi-join back
    on (partkey, price) — raw column equality, no float arithmetic,
    so the join keys are byte-identical across engines. Part and
    supplier dims broadcast; the only shuffles are the min aggregate
    and the join back, both on l_partkey. Top 50 by retail price
    (partkey tiebreak)."""
    t = _t(spark, sf)
    li = t["lineitem"].select("l_partkey", "l_suppkey",
                              "l_extendedprice")
    minp = (li.groupBy("l_partkey")
            .agg(F.min("l_extendedprice").alias("min_price"))
            .withColumnRenamed("l_partkey", "mp_partkey"))
    best = (li.join(minp,
                    (F.col("l_partkey") == F.col("mp_partkey"))
                    & (F.col("l_extendedprice")
                       == F.col("min_price")))
            .groupBy(F.col("l_partkey").alias("pk"), "min_price")
            .agg(F.min("l_suppkey").alias("best_suppkey")))
    parts = (t["part"]
             .filter((F.col("p_type") == "STANDARD")
                     & (F.col("p_size") <= 10)))
    return (best.join(F.broadcast(parts),
                      F.col("pk") == F.col("p_partkey"))
            .join(F.broadcast(t["supplier"]),
                  F.col("best_suppkey") == F.col("s_suppkey"))
            .select("p_partkey", "p_name", "p_retailprice",
                    "min_price", "s_suppkey", "s_name", "s_acctbal")
            .orderBy(F.col("p_retailprice").desc(),
                     F.col("p_partkey").asc())
            .limit(50))


def q200_market_share(spark, sf):
    """TPC-H Q8-shape market share: one nation's share of line
    revenue per order year (1996/1997). The conditional-aggregation
    showcase — one pass computes both the nation-filtered numerator
    and the total denominator as DECIMAL(18,4) sums (partition-
    order-stable, the q76 convention), so the share is a single
    double division rounded 6dp. Supplier and nation dims broadcast;
    the orders date filter pushes to the scan; one shuffle for the
    fact⋈fact join, one 2-group aggregate."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    j = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1998-01-01"))
         .join(F.broadcast(t["supplier"]),
               F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(t["nation"]),
               F.col("s_nationkey") == F.col("n_nationkey")))
    return (j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.sum(F.when(F.col("n_name") == "NATION_7", rev)
                       .otherwise(F.lit(0).cast("decimal(18,4)")))
                 .alias("_num"),
                 F.sum(rev).alias("_den"),
                 F.count(F.lit(1)).cast("long").alias("n_items"))
            .select("o_year",
                    F.round(F.col("_num").cast("double"), 2)
                    .alias("nation_rev"),
                    F.round(F.col("_den").cast("double"), 2)
                    .alias("total_rev"),
                    F.round(F.col("_num").cast("double")
                            / F.col("_den").cast("double"), 6)
                    .alias("mkt_share"), "n_items")
            .orderBy("o_year"))


def q201_late_shipment_priority(spark, sf):
    """TPC-H Q4-shape EXISTS semi-join: orders from one quarter that
    had at least one line shipped more than 30 days after the order
    date (this corpus has no commit/receipt dates — ship-lag is the
    lateness predicate), counted by priority. The decorrelation
    shape: a LEFT SEMI join whose condition references both sides
    (l_shipdate > o_orderdate + 30 days), which Spark evaluates as a
    single hash semi-join on l_orderkey with the residual timestamp
    predicate — no DISTINCT, no double-counting multi-line orders.
    The date filter pushes to the orders scan."""
    t = _t(spark, sf)
    o = (t["orders"]
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1996-04-01")))
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
            .orderBy("o_orderpriority"))


def q208_waiting_suppliers(spark, sf):
    """TPC-H Q21-shape — the hardest decorrelation combo: EXISTS and
    NOT EXISTS correlated to the SAME fact table. Suppliers in one
    nation who kept finished ('F') orders waiting: their lineitem
    shipped >30 days after the order date (this corpus has no
    commit/receipt dates — ship-lag is the lateness predicate, the
    q201 convention), while the order had at least one OTHER
    supplier's line (EXISTS → LEFT SEMI, residual suppkey<>) and NO
    other supplier's line was ALSO late (NOT EXISTS → LEFT ANTI,
    residual suppkey<>). Count of waiting lineitems per supplier,
    top 100 by (numwait desc, s_name) — TPC-H multiplicity semantics
    (every late line of the guilty supplier counts). Plan shape: the
    `late` set derives once from lineitem⋈orders('F') with the
    status filter PUSHED to the orders scan; both quantifiers lower
    to hash semi/anti joins keyed on l_orderkey with the inequality
    as residual — no DISTINCT, no windows; supplier+nation are
    broadcast dims. At 100 TB everything shuffles once on orderkey;
    AQE's skew split covers hot orders."""
    t = _t(spark, sf)
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    o_f = (t["orders"].filter(F.col("o_orderstatus") == "F")
           .select("o_orderkey", "o_orderdate"))
    late = (li.join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            .select("l_orderkey", "l_suppkey"))
    others = li.select(F.col("l_orderkey").alias("_ok2"),
                       F.col("l_suppkey").alias("_sk2"))
    exists_other = late.join(
        others,
        (F.col("l_orderkey") == F.col("_ok2"))
        & (F.col("l_suppkey") != F.col("_sk2")),
        "left_semi")
    late3 = late.select(F.col("l_orderkey").alias("_ok3"),
                        F.col("l_suppkey").alias("_sk3"))
    sole_late = exists_other.join(
        late3,
        (F.col("l_orderkey") == F.col("_ok3"))
        & (F.col("l_suppkey") != F.col("_sk3")),
        "left_anti")
    supp = (t["supplier"].join(
        F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_7")),
        F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name"))
    return (sole_late
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
            .limit(100))


def q209_untapped_customers(spark, sf):
    """TPC-H Q22-shape — NOT EXISTS plus a correlated scalar-average
    subquery, the second canonical decorrelation the engine had not
    demonstrated. 'Global sales opportunity': customers in a set of
    country codes (c_nationkey plays the c_phone-prefix role — this
    corpus has no phone column) whose balance exceeds the average
    POSITIVE balance of that code set, and who placed no order in the
    corpus's final seven months (≥ 2001-01-01 — the corpus has no
    order-less customers, so the anti-join correlates on a
    date-filtered orders subset; this cut keeps the result
    scale-stable: 10/82/820 customers at sf0.001/0.01/0.1). Per code: customer count and total
    balance. Decorrelation shape: the scalar avg is a 1-row global
    aggregate broadcast via crossJoin; the threshold compare is the
    EXACT cross-multiplication c_acctbal·n > sum (decimal both
    sides — no division, no float-boundary flap); NOT EXISTS lowers
    to one LEFT ANTI hash join on custkey against the date-pruned
    orders scan (filter PUSHED). Money sums are exact decimal then
    cast to double for the gate (q03 convention)."""
    t = _t(spark, sf)
    codes = [1, 3, 5, 7, 9, 11, 13]
    cc = (t["customer"]
          .filter(F.col("c_nationkey").isin(codes))
          .select("c_custkey", "c_nationkey",
                  F.col("c_acctbal").cast("decimal(18,2)")
                  .alias("_bal")))
    stats = (cc.filter(F.col("_bal") > 0)
             .agg(F.sum("_bal").alias("_sum"),
                  F.count(F.lit(1)).alias("_n")))
    rich = (cc.crossJoin(F.broadcast(stats))
            .filter(F.col("_bal") * F.col("_n") > F.col("_sum")))
    recent = (t["orders"]
              .filter(F.col("o_orderdate") >= "2001-01-01")
              .select("o_custkey"))
    dormant = rich.join(recent, F.col("c_custkey") == F.col("o_custkey"),
                        "left_anti")
    return (dormant.groupBy(F.col("c_nationkey").alias("cntrycode"))
            .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                 F.sum("_bal").cast("double").alias("totacctbal"))
            .orderBy("cntrycode"))


def q211_small_quantity_revenue(spark, sf):
    """TPC-H Q17-shape — the per-GROUP correlated scalar-average
    decorrelation (Q2/q199 decorrelated a min; this is the avg twin
    with the aggregate correlated to the probe side's own rows):
    revenue from small-quantity orders of small parts, where 'small
    quantity' means below 20% of THAT PART's average order quantity.
    Decorrelation shape: one map-side-combined groupBy(l_partkey)
    over the (part-filtered, semi-join-pruned) lineitem computes
    (sum_qty, cnt) per part; joined back to the same pruned scan on
    the SAME key — one shuffle partitioning serves both sides — and
    the 0.2·avg threshold is the EXACT decimal cross-multiplication
    5·qty·cnt < sum_qty (no division, no float boundary). Output per
    brand: yearly-average revenue (Σ price / 7, the Q17 constant),
    decimal-summed then rounded. Part is the broadcast dim pruning
    BOTH the agg and probe scans (p_size ≤ 5)."""
    t = _t(spark, sf)
    small_parts = (t["part"].filter(F.col("p_size") <= 5)
                   .select("p_partkey", "p_brand"))
    li = (t["lineitem"]
          .join(F.broadcast(small_parts),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "p_brand",
                  F.col("l_quantity").cast("decimal(18,2)").alias("_q"),
                  F.col("l_extendedprice").cast("decimal(18,2)")
                  .alias("_price")))
    per_part = (li.groupBy(F.col("l_partkey").alias("_pk"))
                .agg(F.sum("_q").alias("_sum_q"),
                     F.count(F.lit(1)).alias("_cnt")))
    small = (li.join(per_part, F.col("l_partkey") == F.col("_pk"))
             .filter(F.col("_q") * 5 * F.col("_cnt") < F.col("_sum_q")))
    return (small.groupBy("p_brand")
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.round((F.sum("_price") / 7).cast("double"), 4)
                 .alias("avg_yearly"))
            .orderBy("p_brand"))


def q212_important_parts(spark, sf):
    """TPC-H Q11-shape — GROUP BY + HAVING against a global scalar
    subquery (the last canonical decorrelation missing after
    Q2/Q4/Q8/Q21/Q22/Q17): parts whose revenue from one nation's
    suppliers exceeds 1/1000 of that nation's total. Shape: ONE
    aggregate over the nation-pruned lineitem (supplier⋈nation is a
    broadcast semi-join on the fact scan), its grand total re-derived
    as a second 1-row aggregate OF THE GROUPED RESULT (never a
    rescan of the fact), broadcast back via crossJoin; the HAVING is
    the exact decimal cross-multiplication value·1000 > total.
    Ordered by (value desc, partkey) with rounded doubles only in
    the projection, never the comparison."""
    t = _t(spark, sf)
    nat_supp = (t["supplier"].join(
        F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_3")),
        F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey"))
    li = (t["lineitem"]
          .join(F.broadcast(nat_supp),
                F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
          .select("l_partkey",
                  F.col("l_extendedprice").cast("decimal(18,2)")
                  .alias("_price")))
    per_part = (li.groupBy("l_partkey")
                .agg(F.sum("_price").alias("_value")))
    total = per_part.agg(F.sum("_value").alias("_total"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("_value") * 1000 > F.col("_total"))
            .select("l_partkey",
                    F.col("_value").cast("double").alias("value"))
            .orderBy(F.col("value").desc(), F.col("l_partkey").asc()))


def q213_split_leakage(spark, sf):
    """Train/val/test split assignment + NEAR-DUP LEAKAGE AUDIT — the
    eval-integrity step every LLM data pipeline needs beyond exact
    decontamination (q58 checks benchmark strings; this catches the
    subtler failure where a TEST document's near-duplicate sits in
    TRAIN, silently inflating eval). Split is content-addressed and
    engine-portable — first hex char of md5(doc_id): 0-b → train
    (75%), c-d → val, e-f → test — so membership is a pure function
    of the id, reproducible across reruns and engines. Leakage = the
    skew-guarded exact shingle-Jaccard pairs (q81's 100 TB-default
    machinery: stop-shingle cap 50, threshold 0.3) whose endpoints
    land in DIFFERENT splits. Row-level output (both ids, both
    splits, jaccard) so the oracle pins every leaked pair, not a
    count. Scale: the pair join is the audited q81 shape; the split
    join adds two broadcast-size projections of the id column."""
    t = _t(spark, sf)
    split = (t["documents"].select(
        "doc_id",
        F.when(F.substring(F.md5(F.col("doc_id").cast("string")),
                           1, 1).isin(*list("0123456789ab")), "train")
        .when(F.substring(F.md5(F.col("doc_id").cast("string")),
                          1, 1).isin("c", "d"), "val")
        .otherwise("test").alias("split")))
    pairs = dedup.ngram_jaccard_pairs(t["documents"], "text", "doc_id",
                                      n=3, threshold=0.3,
                                      max_shingle_freq=50)
    sa = split.select(F.col("doc_id").alias("a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("b"),
                      F.col("split").alias("split_b"))
    return (pairs.join(sa, "a").join(sb, "b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("a", "b", "split_a", "split_b", "jaccard")
            .orderBy("a", "b"))


def q225_minhash_leakage(spark, sf):
    """MinHash-BANDED cross-split leakage audit (r08 verdict item 8)
    — q213's eval-integrity check re-based on the LSH candidate
    path: at 100 TB the exact shingle-pair join q213 audits with is
    affordable only under the stop-shingle cap; the banded variant
    is the unconditional scale path (signature → 32 bands → bucket
    equi-join — candidate count is bounded by band collisions, never
    by shingle fan-out), and a LOWER Jaccard threshold (0.6 vs the
    exact audit's pinned pairs) shows the audit catches
    paraphrase-level leakage, not just byte-level dups. Same
    content-addressed split rule as q213 (first md5 hex char of
    doc_id); output = every cross-split pair with its exact verified
    Jaccard, row-level so the oracle pins each leaked pair. The
    oracle replays the FULL md5-portable pipeline (q14 convention) +
    the split rule."""
    t = _t(spark, sf)
    split = (t["documents"].select(
        "doc_id",
        F.when(F.substring(F.md5(F.col("doc_id").cast("string")),
                           1, 1).isin(*list("0123456789ab")), "train")
        .when(F.substring(F.md5(F.col("doc_id").cast("string")),
                          1, 1).isin("c", "d"), "val")
        .otherwise("test").alias("split")))
    pairs = dedup.minhash_md5_neardup(t["documents"], "text", "doc_id",
                                      threshold=0.6, num_hashes=64,
                                      bands=32)
    sa = split.select(F.col("doc_id").alias("a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("b"),
                      F.col("split").alias("split_b"))
    return (pairs.join(sa, "a").join(sb, "b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("a", "b", "split_a", "split_b", "jaccard")
            .orderBy("a", "b"))


def q214_column_profile(spark, sf):
    """ANALYZE-style table profiler — the data-quality pre-flight
    every ingest runs before committing a 100 TB batch: per column,
    row count, null count, EXACT distinct count, and min/max (as
    strings, so one long-format schema carries every type). ONE scan:
    all per-column aggregates compute in a single agg (Spark expands
    multi-distinct internally; map-side partials do the heavy
    lifting), then the 1-row wide result unpivots via stack() — no
    per-column rescans, which is the difference between a profiler
    you run always and one you run never. At 100 TB exact distincts
    on high-cardinality columns are the expensive part; the HLL
    variant (q77's sketch) is the documented fallback — this op is
    the exact-audit path."""
    docs = _t(spark, sf)["documents"]
    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}"),
            F.countDistinct(c).alias(f"_dist_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}")]
    wide = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', _null_{c}, _dist_{c}, _min_{c}, _max_{c}" for c in cols)
    return (wide.select(
        F.col("_n").alias("n_rows"),
        F.expr(f"stack({len(cols)}, {stack}) as "
               "(column, n_nulls, n_distinct, min_s, max_s)"))
        .select("column", "n_rows",
                F.col("n_nulls").cast("long").alias("n_nulls"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_s", "max_s")
        .orderBy("column"))


def q215_attribution(spark, sf):
    """Linear multi-touch attribution — the marketing/behavior
    pipeline op over the events stream: each purchase splits one
    unit of credit equally across the SAME user's click/view/signup
    touches in the preceding 7 days (exclusive of the purchase
    instant). Credit is carried in EXACT parts-per-million — each
    touch earns 1_000_000 DIV n_touches (integer floor division,
    identical in both engines) — so the per-type BIGINT credit sums
    are hash-stable with no float-order hazard; fractional-division
    attribution is where naive double sums flap. Shape: one
    user-keyed equi-join with the time window as residual, a
    per-purchase count (map-side combined), one final groupBy on the
    touch type. At 100 TB users partition the join; the 7-day bound
    keeps per-user candidate pairs linear in event density."""
    ev = _t(spark, sf)["events"]
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("p_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts")))
    touches = (ev.filter(F.col("event_type")
                         .isin("click", "view", "signup"))
               .select("user_id", "event_type",
                       F.col("ts").alias("t_ts")))
    attributed = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")))
    per_purchase = (attributed.groupBy("p_id")
                    .agg(F.count(F.lit(1)).alias("_n")))
    return (attributed
            .join(per_purchase, "p_id")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_touches"),
                 F.countDistinct("p_id").cast("long")
                 .alias("n_purchases"),
                 F.sum(F.expr("1000000 div _n")).cast("long")
                 .alias("credit_ppm"))
            .orderBy("event_type"))


def q222_excess_stock_suppliers(spark, sf):
    """TPC-H Q20-shape — the deepest nested decorrelation the suite
    shows: IN → IN → correlated scalar subquery, three levels
    (supplier IN partsupp-pairs, whose partkey IN a name-filtered
    part set, whose availqty beats a PER-PAIR correlated sum over
    lineitem). This corpus has no partsupp table, so the pair set is
    derived as the distinct (l_partkey, l_suppkey) combinations ever
    shipped, and availqty by deterministic formula
    ((7·partkey + 13·suppkey) mod 50) — integer-exact on both
    engines, the q219 formula-synthesis convention. The gate is
    Q20's `availqty > 0.5 · sum(qty in 1997)` spelled as the exact
    cross-multiplication 2·availqty > sum_qty (DECIMAL sum vs int —
    no float boundary can flap membership, the q209/q211 rule).

    Plan shape (reference: memory-engine has no decorrelator — its
    query engine evaluates nested predicates per-row): all three
    levels lower to ONE aggregate + two hash semi-joins, no
    correlated re-execution. The pair aggregate and the 1997 window
    sum come from the SAME groupBy keys, so they fuse into one
    shuffle on (partkey, suppkey) with conditional aggregation
    (sum(qty) FILTER 1997) — the fact table is scanned ONCE. The
    part name filter is a broadcast semi-join; supplier + nation are
    broadcast dims. At 100 TB: one fact shuffle, map-side partials,
    AQE handles pair skew."""
    t = _t(spark, sf)
    li = t["lineitem"].select("l_partkey", "l_suppkey", "l_quantity",
                              "l_shipdate")
    in97 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) \
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    pairs = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.sum(F.when(in97, F.col("l_quantity"))
                        .otherwise(F.lit(0.0)).cast("decimal(18,2)"))
                  .alias("q97"))
             .withColumn("availqty",
                         (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13)
                         % 50))
    wanted_parts = (t["part"].filter(F.col("p_name").like("small%"))
                    .select("p_partkey"))
    qualifying = (pairs
                  .join(F.broadcast(wanted_parts),
                        F.col("l_partkey") == F.col("p_partkey"),
                        "left_semi")
                  .filter(F.col("availqty") * 2 > F.col("q97"))
                  .select("l_suppkey").distinct())
    nat = t["nation"].filter(
        F.col("n_name").isin("NATION_1", "NATION_3", "NATION_5"))
    return (t["supplier"]
            .join(F.broadcast(nat),
                  F.col("s_nationkey") == F.col("n_nationkey"),
                  "left_semi")
            .join(F.broadcast(qualifying),
                  F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_name", "s_acctbal")
            .orderBy("s_name"))


def q223_order_count_distribution(spark, sf):
    """TPC-H Q13-shape — the left-outer count distribution: how many
    customers placed exactly N qualifying orders, INCLUDING the
    zero-order customers the outer join preserves (the shape no
    inner join can produce). Qualifying = not '1-URGENT' (stand-in
    for Q13's comment NOT LIKE; this corpus has no o_comment).

    Plan shape: Q13's textbook spelling outer-joins the full
    customer table against orders and THEN counts — at 100 TB that
    shuffles every customer row into the join just to count
    per-key. Here the fact is pre-aggregated to (custkey, cnt)
    FIRST (map-side combine shrinks it to ≤|customer| rows), then
    LEFT-joined to customer with coalesce(cnt, 0) — legal because
    the join key IS the grouping key, so the outer join sees exactly
    one row per customer either way. The second groupBy (the
    distribution) runs on ~thousands of distinct counts — trivially
    small. Two shuffles total, both on custkey then c_count; the
    oracle replays the textbook nested-groupBy spelling, proving the
    rewrite exact."""
    t = _t(spark, sf)
    per_cust = (t["orders"]
                .filter(F.col("o_orderpriority") != "1-URGENT")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("_cnt")))
    c_counts = (t["customer"].select("c_custkey")
                .join(per_cust,
                      F.col("c_custkey") == F.col("o_custkey"), "left")
                .select(F.coalesce(F.col("_cnt"), F.lit(0))
                        .cast("long").alias("c_count")))
    return (c_counts.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


def q226_top_revenue_supplier(spark, sf):
    """TPC-H Q15-shape — the scalar-MAX-against-a-view decorrelation:
    a revenue view (per-supplier DECIMAL sum over a 3-month ship
    window) filtered by equality against ITS OWN global max. The
    equality is exact because revenue accumulates in DECIMAL(18,4)
    end-to-end — a double sum would make 'ties with the max' a
    ulp-lottery (the q209/q211 exact-arithmetic rule applied to Q15's
    defining predicate, which is literally `total = (SELECT
    max(total))`). Plan shape: the view is PINNED (cache + eager
    count) before fanning to its two consumers — without the pin the
    max branch re-scans the fact table, because the join branch's
    added isnotnull(suppkey) filter makes the subtrees non-identical
    and defeats ReusedExchange (verified in the executed plan; the
    q46/q194 branch-re-derivation rule). The 1-row max then
    broadcast-joins back onto the ~|suppliers| grouped view;
    supplier is a broadcast dim. Ties all surface, per Q15 spec."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    by_supp = (t["lineitem"]
               .filter((F.col("l_shipdate") >= "1997-01-01")
                       & (F.col("l_shipdate") < "1997-04-01"))
               .groupBy("l_suppkey")
               .agg(F.sum(rev).alias("_tot"))
               .cache())
    by_supp.count()
    mx = by_supp.agg(F.max("_tot").alias("_mx"))
    return (by_supp
            .join(F.broadcast(mx), F.col("_tot") == F.col("_mx"))
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey"), F.col("s_name"),
                    F.round(F.col("_tot").cast("double"), 2)
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


def q227_supplier_part_counts(spark, sf):
    """TPC-H Q16-shape — NOT IN + COUNT(DISTINCT) over the derived
    partsupp pair set: how many distinct suppliers (excluding a
    blacklist — suppkey % 13 == 0 stands in for Q16's
    Customer-Complaints comment scan) offer parts of each
    (brand, size) slice, one brand excluded. The NOT IN lowers to a
    broadcast LEFT ANTI join (the blacklist is tiny and null-free,
    so NOT IN ≡ anti-join here — with a nullable subquery NOT IN
    would need the null-aware variant); the distinct-count is the
    pair set grouped AFTER the part semi-filter. Plan: one fact
    shuffle to build the distinct pairs, part broadcast, blacklist
    broadcast anti, then a small grouped distinct-count."""
    t = _t(spark, sf)
    ps = (t["lineitem"].select(F.col("l_partkey").alias("ps_partkey"),
                               F.col("l_suppkey").alias("ps_suppkey"))
          .distinct())
    bad = (t["supplier"].filter(F.col("s_suppkey") % 13 == 0)
           .select(F.col("s_suppkey").alias("ps_suppkey")))
    parts = (t["part"]
             .filter((F.col("p_brand") != "Brand#3")
                     & F.col("p_size").isin(1, 9, 19, 23, 36, 45, 49))
             .select("p_partkey", "p_brand", "p_size"))
    return (ps
            .join(F.broadcast(bad), "ps_suppkey", "left_anti")
            .join(F.broadcast(parts),
                  F.col("ps_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("ps_suppkey").cast("long")
                 .alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(),
                     F.col("p_brand").asc(), F.col("p_size").asc()))


def q228_kmeans_refine(spark, sf):
    """Deterministic Lloyd k-means refinement under the oracle gate
    (similarity.kmeans_refine) — the trainer step every ANN library
    runs between seeding and serving, previously a deliberate gap
    (build_ivf_flat stops at first-k seeding). Two unrolled rounds
    over the embeddings table from 8 first-k seeds; output = the
    final assignment's per-cell census plus a quantized fingerprint
    of each refined centroid (floor(d·1e6 + 0.5) per dim, md5 of the
    comma-joined longs), so a single wrong mean component, a
    float-order wobble in the per-dimension sums, or a drifted
    assignment tie-break flips the hash. The oracle replays both
    rounds as CTEs — BIGINT per-dim sums, the same (sum/1e9)/n IEEE
    division pair, row_number assignment with the q36 tie-break.
    Scale shape: per round one broadcast max_by assignment + one
    map-side-combined (cell, dim) BIGINT sum — |V|·dim rows, never
    |V|²."""
    from memory_engine_spark.operators.similarity import (build_ivf_flat,
                                                          kmeans_refine)

    emb = _t(spark, sf)["embeddings"]
    seeds, _ = build_ivf_flat(emb, nlist=8, id_col="vec_id")
    cents, assigned = kmeans_refine(emb, seeds, n_rounds=2,
                                    id_col="vec_id")
    fp = F.md5(F.concat_ws(",", F.transform(
        F.col("centroid"),
        lambda d: F.floor(d * 1e6 + F.lit(0.5)).cast("long"))))
    census = (assigned.groupBy("cell")
              .agg(F.count(F.lit(1)).cast("long").alias("n_members")))
    return (cents.join(census, "cell", "left")
            .select("cell",
                    F.coalesce("n_members", F.lit(0)).cast("long")
                    .alias("n_members"),
                    fp.alias("centroid_fp"))
            .orderBy("cell"))


def q229_disjunctive_revenue(spark, sf):
    """TPC-H Q19-shape — the DISJUNCTIVE join predicate: revenue over
    lineitem⋈part where an OR of three (brand, size-range,
    quantity-range) conjunctions holds. The optimizer shape this
    exercises is DISJUNCTIVE predicate decomposition: the partkey
    equi-join lowers to a hash join with the cross-table OR as a
    residual, and Catalyst additionally pushes each side's
    PROJECTION of the disjunction to its own scan — verified in the
    executed plan's PushedFilters: the lineitem scan gets
    Or(Or(And(qty≥1,qty≤11),...)) and the (broadcast) part scan gets
    the brand/size OR — so the join probes pre-filtered inputs, not
    full tables. Revenue accumulates in DECIMAL (the q76 rule).
    Single-row output, ROUND(...,2)."""
    t = _t(spark, sf)
    li = t["lineitem"].select("l_partkey", "l_quantity",
                              "l_extendedprice", "l_discount")
    p = t["part"].select("p_partkey", "p_brand", "p_size")
    branch = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3")
           & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.join(F.broadcast(p),
                    F.col("l_partkey") == F.col("p_partkey"))
            .filter(branch)
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                 F.count(F.lit(1)).cast("long").alias("n_lines")))


def q230_returned_item_ranking(spark, sf):
    """TPC-H Q10-shape — returned-item customer ranking: customers
    who returned items ('R' lines) in one order quarter, ranked by
    lost revenue, top 20. The canonical 4-table star: orders
    date-pruned AT THE SCAN, lineitem filtered to returnflag='R',
    fact⋈fact on orderkey then custkey, nation broadcast. DECIMAL
    revenue; TakeOrderedAndProject for the top-20 (no global
    sort)."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    o = (t["orders"]
         .filter((F.col("o_orderdate") >= "1996-07-01")
                 & (F.col("o_orderdate") < "1996-10-01"))
         .select("o_orderkey", "o_custkey"))
    li = (t["lineitem"].filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", rev.alias("_rev")))
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(t["customer"],
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.round(F.sum("_rev").cast("double"), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).cast("long").alias("n_lines"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))


def q231_forecast_revenue_change(spark, sf):
    """TPC-H Q6-shape — the pure scan-aggregate: revenue change from
    discounted small-quantity lines in one ship year, three pushed
    range predicates, NO join. The point at 100 TB is that the plan
    is a single parquet scan with every predicate in PushedFilters
    and a two-column ReadSchema feeding one map-side-combined
    DECIMAL sum — the canonical predicate-pushdown litmus. Discount
    compares are against the same parquet doubles on both engines
    (no arithmetic before the compare), revenue accumulates
    DECIMAL."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice") * F.col("l_discount")) \
        .cast("decimal(18,4)")
    return (t["lineitem"]
            .filter((F.col("l_shipdate") >= "1997-01-01")
                    & (F.col("l_shipdate") < "1998-01-01")
                    & F.col("l_discount").between(0.05, 0.07)
                    & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                 F.count(F.lit(1)).cast("long").alias("n_lines")))


def q232_nation_volume_shipping(spark, sf):
    """TPC-H Q7-shape — bidirectional two-nation trade volume:
    supplier in one nation shipping to customers of the other (both
    directions), revenue by (supp_nation, cust_nation, ship year)
    over a two-year window. The join-planning point: the nation
    pair filter applies to the CROSS-table (n1, n2) combination, so
    it can only be a residual after both dim joins — but each
    nation dim is a 25-row broadcast and supplier joins before the
    fact, so the filter prunes early. Year extraction on both
    engines from the same timestamps; DECIMAL revenue."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    li = (t["lineitem"]
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_suppkey",
                  F.year("l_shipdate").alias("l_year"),
                  rev.alias("_rev")))
    supp = (t["supplier"]
            .join(F.broadcast(t["nation"].select(
                F.col("n_nationkey").alias("_sk"),
                F.col("n_name").alias("supp_nation"))),
                F.col("s_nationkey") == F.col("_sk"))
            .select("s_suppkey", "supp_nation"))
    cust = (t["customer"]
            .join(F.broadcast(t["nation"].select(
                F.col("n_nationkey").alias("_ck"),
                F.col("n_name").alias("cust_nation"))),
                F.col("c_nationkey") == F.col("_ck"))
            .select("c_custkey", "cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_2")
             & (F.col("cust_nation") == "NATION_8"))
            | ((F.col("supp_nation") == "NATION_8")
               & (F.col("cust_nation") == "NATION_2")))
    return (li
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(t["orders"].select("o_orderkey", "o_custkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.round(F.sum("_rev").cast("double"), 2)
                 .alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


def q233_product_type_profit(spark, sf):
    """TPC-H Q9-shape — product profit by (nation, year):
    profit = revenue − supplycost·quantity for a part-name slice,
    grouped by supplier nation and ORDER year. No partsupp table in
    this corpus, so supplycost derives by integer formula
    ((11·partkey + 3·suppkey) mod 500 + 1 whole dollars — the q222
    availqty convention), making the cost side integer-exact:
    supplycost·quantity is a ≤25050 integer-valued double → exact
    DECIMAL(18,2); profit accumulates DECIMAL(18,4). Plan: part
    name-filter broadcast-semi onto the fact, supplier+nation
    broadcast, orders joined only for the year — one fact shuffle."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    supplycost = ((F.col("l_partkey") * 11 + F.col("l_suppkey") * 3)
                  % 500 + 1)
    cost = (supplycost * F.col("l_quantity")).cast("decimal(18,2)")
    wanted = (t["part"].filter(F.col("p_name").like("%gear%"))
              .select("p_partkey"))
    supp = (t["supplier"]
            .join(F.broadcast(t["nation"]),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "n_name"))
    return (t["lineitem"]
            .join(F.broadcast(wanted),
                  F.col("l_partkey") == F.col("p_partkey"), "left_semi")
            .select("l_orderkey", "l_suppkey",
                    (rev - cost.cast("decimal(18,4)")).alias("_amount"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(t["orders"].select("o_orderkey",
                                     F.year("o_orderdate").alias("o_year")),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.col("n_name").alias("nation"), "o_year")
            # round the DECIMAL, THEN cast: a .xx5 boundary rounded
            # after the double cast diverges between engines (Spark
            # rounds the shortest repr, DuckDB the true binary value —
            # hit at sf0.01: 533931.945 → .95 vs .94)
            .agg(F.round(F.sum("_amount"), 2).cast("double")
                 .alias("sum_profit"))
            .orderBy("nation", F.col("o_year").desc()))


def q234_shipmode_priority(spark, sf):
    """TPC-H Q12-shape — late-line priority counts by ship mode:
    for two modes, among LATE lines (ship-lag > 60 days, the
    q201/q208 lateness convention — this corpus has no
    commit/receipt dates), how many belong to high-priority orders
    vs low. No shipmode column either, so the mode derives by
    formula from the line number (linenumber mod 3 →
    MAIL/SHIP/AIR — the q219 derived-column convention, replayed
    identically by the oracle). The conditional counts are the
    CASE-sum idiom Q12 exists to exercise; one fact⋈fact join on
    orderkey, two-row output."""
    t = _t(spark, sf)
    mode = (F.when(F.col("l_linenumber") % 3 == 0, "MAIL")
            .when(F.col("l_linenumber") % 3 == 1, "SHIP")
            .otherwise("AIR"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (t["lineitem"]
            .select("l_orderkey", "l_shipdate", mode.alias("shipmode"))
            .filter(F.col("shipmode").isin("MAIL", "SHIP"))
            .join(t["orders"].select("o_orderkey", "o_orderdate",
                                     "o_orderpriority"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .groupBy("shipmode")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(hi, 0).otherwise(1)).cast("long")
                 .alias("low_line_count"))
            .orderBy("shipmode"))


def q235_promo_revenue_share(spark, sf):
    """TPC-H Q14-shape — promotion revenue share for one ship month:
    100 · promo revenue / total revenue, where promo is a literal
    p_type slice (this corpus ships a real 'PROMO' type). Both the
    conditional numerator and the denominator are DECIMAL sums in
    ONE aggregate over one fact⋈broadcast-part join (the Q8/q200
    conditional-share discipline); only the final ratio is float —
    one division of two engine-identical doubles, rounded 4dp."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    agg = (t["lineitem"]
           .filter((F.col("l_shipdate") >= "1997-09-01")
                   & (F.col("l_shipdate") < "1997-10-01"))
           .join(F.broadcast(t["part"].select("p_partkey", "p_type")),
                 F.col("l_partkey") == F.col("p_partkey"))
           .agg(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                      .otherwise(F.lit(0).cast("decimal(18,4)")))
                .alias("_promo"),
                F.sum(rev).alias("_total")))
    return agg.select(
        F.round(F.lit(100.0) * F.col("_promo").cast("double")
                / F.col("_total").cast("double"), 4)
        .alias("promo_revenue_pct"),
        F.round(F.col("_promo").cast("double"), 2).alias("promo_revenue"),
        F.round(F.col("_total").cast("double"), 2).alias("total_revenue"))


def q237_dpp_monthly_revenue(spark, sf):
    """DYNAMIC PARTITION PRUNING demo under the oracle gate — the
    last Catalyst optimizer pillar the suite hadn't exercised
    (static pushdown q231, disjunctive pushdown q229, zone maps
    q198, bucketing in tests): the month-partitioned lineitem
    layout (`.derived/<sf>/li_month`) joins on its PARTITION column
    against a dim derived from the orders scan (the distinct ship
    months of one quarter's urgent orders). At planning time the
    month set is unknown — Catalyst injects the dim as a runtime
    subquery into the fact scan's PartitionFilters
    (`dynamicpruning#…`, reusing the join's broadcast), so only ~3
    of ~83 month directories are ever opened. At 100 TB this is the
    difference between scanning a week and scanning seven years.
    The plan assertion lives in tests/test_stateful_bucketing.py;
    the oracle replays the join over the unpartitioned table."""
    li = _li_month(spark, sf)
    months = (_t(spark, sf)["orders"]
              .filter((F.col("o_orderpriority") == "1-URGENT")
                      & (F.col("o_orderdate") >= "1996-07-01")
                      & (F.col("o_orderdate") < "1996-10-01"))
              .select((F.year("o_orderdate") * 100
                       + F.month("o_orderdate")).cast("int")
                      .alias("l_month"))
              .distinct())
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.join(months, "l_month")
            .groupBy("l_month")
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                 F.count(F.lit(1)).cast("long").alias("n_lines"))
            .orderBy("l_month"))


def q238_cube_pricing(spark, sf):
    """CUBE / grouping-sets aggregation — the native multi-level OLAP
    rollup the suite hadn't shown (q62's hypertable cascade builds
    levels as separate frames; CUBE computes all four grouping sets
    of (returnflag, linestatus) in ONE logical aggregate, which
    Catalyst lowers to an Expand + single shuffle — one pass over
    the fact for every level, the textbook 100 TB win over N
    re-aggregations). Subtotal rows label their aggregated columns
    'ALL' via grouping() (never by null-testing the value — a real
    null in the column would alias the subtotal), and the grouping
    id is computed explicitly as grouping(rf)·2 + grouping(ls) so no
    engine bit-order convention is trusted. DECIMAL sums."""
    t = _t(spark, sf)
    rev = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,4)")
    gid = (F.grouping("l_returnflag") * 2
           + F.grouping("l_linestatus")).cast("int")
    return (t["lineitem"]
            .cube("l_returnflag", "l_linestatus")
            .agg(F.grouping("l_returnflag").cast("int").alias("_g_rf"),
                 F.grouping("l_linestatus").cast("int").alias("_g_ls"),
                 gid.alias("gid"),
                 F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.round(F.sum(F.col("l_quantity")
                               .cast("decimal(18,2)")), 2)
                 .cast("double").alias("sum_qty"),
                 F.round(F.sum(rev), 2).cast("double").alias("sum_rev"))
            .select(
                F.when(F.col("_g_rf") == 1, "ALL")
                .otherwise(F.col("l_returnflag")).alias("returnflag"),
                F.when(F.col("_g_ls") == 1, "ALL")
                .otherwise(F.col("l_linestatus")).alias("linestatus"),
                "gid", "n_lines", "sum_qty", "sum_rev")
            .orderBy("gid", "returnflag", "linestatus"))


def q239_rollup_order_hierarchy(spark, sf):
    """ROLLUP over the date hierarchy (year → year+month → grand
    total) — the ordered-prefix complement to q238's full CUBE: the
    hierarchy's three levels come out of ONE Expand + one shuffle
    instead of three re-aggregations of the orders table. Same
    labeling discipline as q238 (grouping(), never null-tests;
    explicit grouping-id arithmetic); DECIMAL totals with the
    round-then-cast rule."""
    t = _t(spark, sf)
    o = t["orders"].select(
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.col("o_totalprice"))
    gid = (F.grouping("o_year") * 2 + F.grouping("o_month")).cast("int")
    return (o.rollup("o_year", "o_month")
            .agg(F.grouping("o_year").cast("int").alias("_gy"),
                 F.grouping("o_month").cast("int").alias("_gm"),
                 gid.alias("gid"),
                 F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(18,2)")), 2)
                 .cast("double").alias("total_price"))
            .select(
                F.when(F.col("_gy") == 1, -1)
                .otherwise(F.col("o_year")).cast("int").alias("o_year"),
                F.when(F.col("_gm") == 1, -1)
                .otherwise(F.col("o_month")).cast("int").alias("o_month"),
                "gid", "n_orders", "total_price")
            .orderBy("gid", "o_year", "o_month"))


def q240_window_battery(spark, sf):
    """Ranking-window battery over each customer's order history —
    the window functions the suite used only piecemeal (row_number
    everywhere, ntile in terciles), exercised together and gated:
    per (customer, order) its row_number, lag/lead order gaps in
    days, quartile ntile, percent_rank and cume_dist, plus a
    3-order centered moving DECIMAL average. Cross-engine floats:
    percent_rank = (rank−1)/(n−1) and cume_dist = peers/n are
    single IEEE divisions of exact integers; the moving average
    divides a DECIMAL sum by an exact count — all deterministic.
    ONE window partitioning (custkey) serves every function — one
    shuffle, no re-sort per function. Bounded to 20 customers so
    the output stays hash-stable-small."""
    from pyspark.sql.window import Window

    t = _t(spark, sf)
    o = (t["orders"].filter(F.col("o_custkey") <= 20)
         .select("o_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    wr = w.rowsBetween(-1, 1)
    return (o.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.datediff("o_orderdate",
                   F.lag("o_orderdate", 1).over(w)).alias("gap_prev_d"),
        F.datediff(F.lead("o_orderdate", 1).over(w),
                   "o_orderdate").alias("gap_next_d"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.avg(F.col("o_totalprice").cast("decimal(18,2)"))
                .over(wr).cast("double"), 4).alias("mov_avg3"))
        .orderBy("o_custkey", "rn"))


def q241_multiset_ops(spark, sf):
    """INTERSECT ALL / EXCEPT ALL — the MULTISET operations the suite
    had only in operator form (backup's exceptAll): bag semantics
    keep duplicate multiplicities (min of the two counts for
    intersect, count difference floored at 0 for except), which no
    DISTINCT-based rewrite reproduces. Sets: each order's (priority,
    month) pairs from two disjoint customer halves — plenty of
    duplicate pairs per side. Output = both results unioned under a
    section tag with per-row multiplicity REKEPT AS ROWS (the
    operators return bags; counting them in SQL would test the
    groupBy, not the bag semantics), so the driver hash covers exact
    multiplicities."""
    t = _t(spark, sf)
    base = t["orders"].select(
        "o_custkey", F.col("o_orderpriority").alias("prio"),
        F.month("o_orderdate").alias("m"))
    a = base.filter(F.col("o_custkey") % 2 == 0).select("prio", "m")
    b = base.filter(F.col("o_custkey") % 2 == 1).select("prio", "m")
    inter = (a.intersectAll(b)
             .select(F.lit("intersect_all").alias("section"),
                     "prio", "m"))
    exc = (a.exceptAll(b)
           .select(F.lit("except_all").alias("section"), "prio", "m"))
    return (inter.unionByName(exc)
            .groupBy("section", "prio", "m")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("section", "prio", "m"))


def q243_scc_exhaustive_peel(spark, sf):
    """bounded_scc(exhaustive=True) — the FW-BW DESCENT phase on the
    residual (r10 verdict item 3), gated on the docstring's own split
    topology: the 16 nations with key < 16 in ONE directed ring
    ordered by md5(n_name) (data-dependent — an engine that misreads
    n_name builds a different ring and fails), plus a 2-node DAG tail
    101→100→ring. At n_iter=2 a ring certificate can only SELF-certify
    (a foreign label needs ≤2 hops BOTH ways — impossible on a
    ring), so the certified set is exactly the radius-(k+1) window
    minima of the md5 permutation (three on this data: 0, 1, 5) —
    three never-touching singleton classes that merge_labels provably
    cannot chain, the one split case q242 left open. The peel's single
    pivot (min demoted id) walks F and B in the same tagged join
    (4-hop shortcut edges, so ~⌈25/4⌉ rounds, one action each);
    F∩B = the whole ring = SCC(pivot) exactly, and EVERY member —
    certified minima included — re-keys to the true min. The tail
    nodes reach the ring (∈ B) but are not reached (∉ F), so they
    stay outside F∩B and report -1: the residual is now bounded by K
    pivots, pinned here with K=1. cert_scc pins the split existing;
    exhaustive_scc pins the peel healing it. Oracle: the q219/q242
    round unroll (first 3 rounds) for the certificates +
    recursive-CTE forward/backward reachability from the same
    min-residual pivot. Scale shape: the peel is the Multistep
    descent — one BFS fixpoint per pivot over the (reused,
    shortcut-squared) adjacency, never all-pairs; rounds = SCC
    diameter / 2^s. Local sizing (measured, SCALING.md r11): ring 16,
    n_iter=2, shortcuts=3, AQE off, 2 shuffle partitions — every knob
    A/B'd; the residual wall is the per-action dispatch floor (q104),
    ~15 driver actions."""
    from pyspark.sql.window import Window

    nat = (_t(spark, sf)["nation"]
           .filter(F.col("n_nationkey") < 16)
           .select("n_nationkey", "n_name"))
    w = Window.orderBy(F.md5(F.col("n_name")), F.col("n_nationkey"))
    seq = (nat.select(F.col("n_nationkey").cast("long").alias("nid"),
                      (F.row_number().over(w) - 1).alias("pos"))
           .cache())
    chain = (seq.alias("a")
             .join(seq.alias("b"), F.col("b.pos") == F.col("a.pos") + 1)
             .select(F.col("a.nid").alias("from_id"),
                     F.col("b.nid").alias("to_id")))
    ends = seq.agg(F.max(F.struct("pos", "nid")).alias("mx"),
                   F.min(F.struct("pos", "nid")).alias("mn"))
    wrap = ends.select(F.col("mx.nid").alias("from_id"),
                       F.col("mn.nid").alias("to_id"))
    tail = ends.select(F.lit(100).cast("long").alias("from_id"),
                       F.col("mn.nid").alias("to_id"))
    tail2 = ends.select(F.lit(101).cast("long").alias("from_id"),
                        F.lit(100).cast("long").alias("to_id"))
    edges = chain.unionByName(wrap).unionByName(tail).unionByName(tail2)
    # 27-node graph, ~20 driver actions (certificate rounds + merge
    # chase + peel BFS): the wall is per-ACTION dispatch, not data —
    # conf-window the shuffle width down and AQE off (each AQE stage
    # re-plan is an extra job; measured 6.4 → 4.9 s), and take the
    # certificate labels from the SAME call (include_cert) instead of
    # paying the six certificate rounds twice (measured −1.8 s).
    # r14 re-A/B on the slower host (SCALING.md r14): shuffle width 1
    # (every exchange is one task: 5.85 → 4.99 s min-of-3) and
    # peel_shortcuts=2 (the squaring cascade's extra join+distinct
    # stages cost more than the 2 BFS rounds they remove at ring
    # diameter 16: 4.99 → 4.45; shortcuts 1/0 regress to 6.9/9.5) —
    # both query-local knobs; shortcut depth is reachability-
    # preserving, so labels (and the oracle hash) are unchanged.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ex = graph.bounded_scc(edges, n_iter=2, exhaustive=True,
                               max_pivots=1, peel_shortcuts=2,
                               include_cert=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        seq.unpersist()
    return (ex.select("node_id",
                      F.col("cert_scc").cast("long").alias("cert_scc"),
                      F.col("scc_id").cast("long")
                      .alias("exhaustive_scc"))
            .orderBy("node_id"))


def q242_scc_label_merge(spark, sf):
    """bounded_scc with the round-10 label-merge closure
    (graph.bounded_scc(merge_labels=True)): every certified (u, m)
    pair is a proven same-SCC relation, so min-label connected
    components over the relation graph collapses chained certificate
    classes to ONE component key — closing the split-label hazard the
    round-9 verification round only shrank (r9 verdict item 2). The
    graph is one 10-node gadget per document (ids doc_id·16 + local):
    its SCC {0,2,..,9} is built so node 7's 3-hop balls certify it
    ONLY against label 2 (paths 7→5→6→2 and 2→3→4→7, all
    intermediates > 2; ids < 2 stay ≥ 5 hops out, so the round-4
    verification cannot demote it) while node 2 certifies against the
    true min 0 — pre-merge, 7 and 2 carry DIFFERENT keys for the same
    SCC; the merge chains 7→2→0. Node 1 is a DAG tail: residual -1,
    untouched. The oracle unrolls all six propagation rounds plus the
    verification demotion (the q219 pattern) and replays the merge as
    a recursive-CTE transitive closure over the certified relations —
    exact because Spark's CC runs to min-label convergence. Scale
    shape: the certificate rounds are the O(|V|) iterative-state
    discipline; the merge adds CC over |certified| relation edges
    whose classes are strictly-decreasing label chains, so it
    converges in O(log chain) rounds — nothing all-pairs."""
    gad = [(7, 5), (5, 6), (6, 2), (2, 3), (3, 4), (4, 7),
           (2, 9), (9, 0), (0, 8), (8, 2), (1, 0)]
    docs = _t(spark, sf)["documents"].select("doc_id")
    gdf = spark.createDataFrame(gad, "lf long, lt long")
    edges = (docs.crossJoin(F.broadcast(gdf))
             .select((F.col("doc_id") * 16 + F.col("lf"))
                     .alias("from_id"),
                     (F.col("doc_id") * 16 + F.col("lt"))
                     .alias("to_id")))
    lab = graph.bounded_scc(edges, n_iter=3, merge_labels=True)
    return (lab.groupBy(
        (F.col("node_id") % 16).alias("local_node"),
        F.when(F.col("scc_id") < 0, F.lit(-1))
        .otherwise(F.col("scc_id") % 16).alias("local_scc"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("local_node", "local_scc"))


def q221_unicode_nfc(spark, sf):
    """Unicode NFC normalization under the oracle gate — the
    canonical-composition step a text pipeline runs BEFORE any
    byte-level dedup (é arrives both precomposed and as
    e+COMBINING ACUTE; hash dedup misses the duplicate unless
    normalized). Each document gets a formula-built messy suffix:
    combining marks (e+U+0301, A+U+030A), a singleton (U+212B
    ANGSTROM SIGN → U+00C5 under NFC), and an ﬁ ligature (U+FB01 —
    a NEGATIVE control: NFC preserves compatibility characters,
    NFKC would fold it; an implementation running the wrong form
    fails this row). `text.nfc_normalize_col` is an Arrow pandas UDF
    over Python's unicodedata; the oracle runs DuckDB's INDEPENDENT
    nfc_normalize over the same construction, so the two engines'
    Unicode tables verify each other — char counts before/after and
    the md5 of the normalized bytes are the gate."""
    from memory_engine_spark.operators.text import nfc_normalize_col

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    # Explicit escapes, NEVER typed characters: the suffix must carry
    # the DECOMPOSED forms (e+U+0301, A+U+030A) and the singletons, and
    # editors/tooling love to silently NFC-normalize source files.
    messy = (" e\u0301 A\u030a \u212b \ufb01 ")
    raw = F.concat(
        F.substring("text", 1, 10),
        F.lit(messy),
        (F.col("doc_id") % 7).cast("string"))
    base = docs.select("doc_id", raw.alias("_raw"))
    out = base.select(
        "doc_id",
        F.length("_raw").alias("n_chars_raw"),
        nfc_normalize_col(F.col("_raw")).alias("_nfc"))
    return (out.select(
        "doc_id", "n_chars_raw",
        F.length("_nfc").alias("n_chars_nfc"),
        F.md5("_nfc").alias("nfc_md5"))
        .orderBy("doc_id"))


def q220_snapshot_diff(spark, sf):
    """CDC CAPTURE under the oracle gate — merging.snapshot_diff,
    q218's inverse: diff two snapshots into the MINIMAL change batch
    (insert/update/delete; unchanged rows dropped — struct-equality
    null-safe compare). The 'new' snapshot is q218's merge result
    rebuilt by formula, so this query proves the capture side emits
    exactly the CDC batch that would replay old→new; the round-trip
    law merge_into(old, snapshot_diff(old,new)) == new is pinned in
    tests. One full-outer join on the key — at 100 TB this is the
    table-diff primitive behind incremental backup verification
    (q119) and IVM delta derivation (q202)."""
    from memory_engine_spark.operators.merging import snapshot_diff

    cust = _t(spark, sf)["customer"]
    m = F.col("c_custkey") % 10
    new = (cust.filter(m != 0)
           .withColumn("c_acctbal",
                       F.when(m.isin(1, 2), F.col("c_acctbal") + 100)
                       .otherwise(F.col("c_acctbal")))
           .unionByName(cust.filter(m == 3).select(
               (F.col("c_custkey") + 1000000).alias("c_custkey"),
               F.concat(F.lit("new_"),
                        F.col("c_custkey").cast("string"))
               .alias("c_name"),
               F.col("c_nationkey"),
               F.lit(0.0).alias("c_acctbal"),
               F.lit("NEW").alias("c_mktsegment"))))
    return snapshot_diff(cust, new, "c_custkey").orderBy("c_custkey")


def q219_bounded_scc(spark, sf):
    """Directed strongly-connected components, k-BOUNDED certificate
    (graph.bounded_scc — the forward-backward min-label phase of the
    FW-BW/Multistep SCC family, fixed rounds so the oracle unrolls):
    a node resolves to SCC(m) when m is both forward- and
    backward-reachable within k=3 hops AND a 4th VERIFICATION round
    improves neither direction (round-8 ADVICE demotion: without it,
    a node that is the min of its own k-balls self-labels even when
    the SCC's true min is farther out). The label m certifies
    u ∈ SCC(m) — same-SCC nodes beyond the budget may still differ;
    everything unstable reports the explicit residual (-1). The
    graph is a two-successor functional graph over doc ids
    (i → (7i+3) mod N, i → (13i+5) mod N) — the star-schema derived
    graph is acyclic, so directed cycles are synthesized by formula
    and the DuckDB oracle replays edges AND all six propagation
    rounds as unrolled CTEs. Scale shape: per round one adjacency
    join + map-side-combined min per direction, O(|V|) label state —
    the k_core/pagerank iterative discipline."""
    docs = _t(spark, sf)["documents"].select("doc_id")
    n = docs.count()
    e1 = docs.select(F.col("doc_id").alias("from_id"),
                     ((F.col("doc_id") * 7 + 3) % n).alias("to_id"))
    e2 = docs.select(F.col("doc_id").alias("from_id"),
                     ((F.col("doc_id") * 13 + 5) % n).alias("to_id"))
    lab = graph.bounded_scc(e1.unionByName(e2), n_iter=3)
    return (lab.groupBy("scc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .orderBy("scc_id"))


def q218_merge_into(spark, sf):
    """Delta-style 3-clause MERGE INTO under the oracle gate
    (merging.merge_into) — the set-oriented CDC apply every lakehouse
    table needs at 100 TB (the reference's storage upserts are
    per-row puts; q143's import-merge covers only the 2-clause
    upsert). The CDC batch derives from the customer table by
    formula: custkey%10==0 → delete, %10∈{1,2} → update (+100
    balance), %10==3 → an INSERT under a shifted key, plus two
    no-op clauses exercised — a matched 'insert' (%10==4, must leave
    the target row untouched) and an unmatched 'delete' (shifted
    key, must not materialize). One full-outer join on the key +
    CASE projection; duplicate source keys are an ERROR like Delta's
    MERGE (cardinality-checked). The oracle replays every clause."""
    from memory_engine_spark.operators.merging import merge_into

    cust = _t(spark, sf)["customer"]
    m = F.col("c_custkey") % 10
    upd = (cust.filter(m.isin(0, 1, 2, 4))
           .withColumn("_op", F.when(m == 0, "delete")
                       .when(m == 4, "insert")  # matched no-op
                       .otherwise("update"))
           .withColumn("c_acctbal",
                       F.when(m.isin(1, 2), F.col("c_acctbal") + 100)
                       .otherwise(F.col("c_acctbal"))))
    ins = (cust.filter(m == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string"))
        .alias("c_name"),
        F.col("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit("insert").alias("_op")))
    noop_del = (cust.filter(m == 5).select(
        (F.col("c_custkey") + 2000000).alias("c_custkey"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        F.lit("delete").alias("_op")))  # unmatched no-op
    src = upd.select(*ins.columns).unionByName(ins) \
        .unionByName(noop_del)
    return merge_into(cust, src, "c_custkey").orderBy("c_custkey")


_Q217_SEQ = [0]


def q217_stream_static_enrich(spark, sf):
    """Stream-STATIC enrichment join under the oracle gate — the one
    canonical streaming join shape q123-q125/q151 didn't cover: the
    event stream (readStream file source) joins a static broadcast
    dimension (customer, on user_id = c_custkey) inside
    MicroBatchExecution, then aggregates value by market segment ×
    event type in complete mode. This is the standard streaming
    enrichment topology (fact stream × slowly-changing dim): the
    static side is planned per micro-batch and BROADCAST — no state
    store is involved for the join itself, so unlike q125 its cost
    doesn't scale with shuffle partitions. Money sums in DECIMAL
    then cast (q03 discipline); AvailableNow drain makes the final
    table micro-batch-boundary independent, so the oracle is the
    plain batch join+aggregate."""
    import os
    import shutil
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        f"me_stream_enrich_{os.path.basename(sf.rstrip('/')) or 'd'}"
        f"_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    os.symlink(os.path.join(sf, "events.parquet"),
               os.path.join(d, "events.parquet"))
    schema = _t(spark, sf)["events"].schema
    src = spark.readStream.schema(schema).parquet(d)
    dim = _t(spark, sf)["customer"].select(
        F.col("c_custkey"), F.col("c_mktsegment"))
    enriched = src.join(F.broadcast(dim),
                        F.col("user_id") == F.col("c_custkey"))
    agg = (enriched.groupBy("c_mktsegment", "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .alias("_v")))
    _Q217_SEQ[0] += 1
    name = f"q217_sink_{os.getpid()}_{_Q217_SEQ[0]}"
    # q125's state-store sizing discipline (r16): the broadcast join
    # needs no state, but the complete-mode agg stores one state
    # store per shuffle partition per batch — size it to the ~25
    # (segment × type) groups, not the scan. DECIMAL sums are exact,
    # partition-independent.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (spark.table(name)
            .select("c_mktsegment", "event_type",
                    F.col("n").cast("long").alias("n"),
                    F.col("_v").cast("double").alias("total_value"))
            .orderBy("c_mktsegment", "event_type"))


def q216_lz4_frames(spark, sf):
    """REAL LZ4 frame walking under the oracle gate — the other
    dominant shard compression next to gzip (q173) and snappy
    (q190's parquet pages), with the format's actual integrity
    machinery: a pure-Python xxHash32 (verified against the
    reference test vectors in tests) checks the frame descriptor
    byte AND the content checksum. Each document synthesizes a
    2-block frame: block 0 compressed by our greedy LZ4 block
    encoder (12× repetition — the round trip through the REAL
    decoder pins the encoder via the md5), block 1 a stored
    (high-bit) block; every 6th document gets one stored-payload
    byte flipped AFTER the frame is sealed, so the walker must
    report content_ok=false with the corrupted md5 — an
    implementation that skips the xxh32 verify fails those rows in
    both directions. Arrow mapInPandas over the spread feeder;
    only digests and lengths shuffle."""
    from memory_engine_spark.sources.formats import (lz4_frame_blocks,
                                                     synth_lz4_frame)

    docs = (_t(spark, sf)["documents"]
            .select("doc_id", "text", "source")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, text, src in zip(pdf["doc_id"], pdf["text"],
                                    pdf["source"]):
                d = int(d)
                b0 = ("B0:" + (text[:20] + "~") * 12).encode()
                b1 = ("B1:" + text[:40] + "|" + src).encode()
                frame = bytearray(synth_lz4_frame(
                    [(b0, True), (b1, False)]))
                if d % 6 == 0:
                    frame[bytes(frame).find(b"B1:")] ^= 0x02
                ids.append(f"m_{d}")
                payloads.append(bytes(frame))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return (multimodal.fuse_synth_stage(docs, synth, lz4_frame_blocks)
            .orderBy("media_id", "block_idx"))


def q210_ogg_packets(spark, sf):
    """REAL Ogg (RFC 3533) container walk under the oracle gate —
    page CRC verification (unreflected 0x04C11DB7 table, the one CRC
    zlib does NOT provide) plus lacing-based packet reassembly
    across continuation pages, completing container parity with
    AVI/MP4/EBML (r07 verdict item 8). Each document synthesizes a
    5-packet stream: a binary Vorbis ID header (channels/rate by
    doc_id formula), a comment packet, and three data packets — the
    middle one exactly 600 bytes so it MUST span two pages
    ([255,255] lacing + continued [90]); every 7th document gets one
    payload byte flipped AFTER the CRC is sealed, so a walker with a
    fake or reflected CRC fails the gate in both directions.
    `multimodal.ogg_packets` walks the actual bytes and emits
    per-packet facts; the oracle regenerates every fact — sizes,
    span counts, end-page granules, the corrupted md5 ('q'-prefixed
    for the flipped docs), the crc_ok verdicts — by formula. Scale
    posture: one Arrow mapInPandas stage over the repartitioned
    feeder, linear per row like the other codec walks."""
    from memory_engine_spark.operators import multimodal

    docs = (_t(spark, sf)["documents"]
            .select("doc_id", "text", "source")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, text, src in zip(pdf["doc_id"], pdf["text"],
                                    pdf["source"]):
                d = int(d)
                # spec-complete 30-byte Vorbis ID header: \x01vorbis,
                # version, channels, rate, 3 bitrate fields,
                # blocksizes byte, framing bit.
                vid = (b"\x01vorbis" + (0).to_bytes(4, "little")
                       + bytes([1 + d % 2])
                       + (8000 * (1 + d % 4)).to_bytes(4, "little")
                       + b"\x00" * 12 + b"\x00\x01")
                t = text or ""
                unit = t + "|"
                body = (unit * (594 // len(unit) + 1))[:594]
                pkts = [vid,
                        b"cmt:" + src.encode(),
                        b"pkt:0:" + t[:40].encode(),
                        b"pkt:1:" + body.encode(),
                        b"pkt:2:" + t[:40].encode()]
                grans = [(d % 5 + 1) * 1000 + i * 960 for i in range(5)]
                corrupt = (2, 0, 0x01) if d % 7 == 0 else None
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_ogg(
                    pkts, serial=d & 0xFFFF, granules=grans,
                    corrupt=corrupt))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return (multimodal.fuse_synth_stage(docs, synth,
                                        multimodal.ogg_packets)
            .orderBy("media_id", "packet_idx"))


def q224_mkv_blocks(spark, sf):
    """REAL Matroska/WebM (EBML) container walk under the oracle
    gate — completes container parity (r08 verdict item 7: AVI, MP4
    and Ogg had full q-gated walks; EBML was header-probe only).
    Each document synthesizes a two-cluster file (doctype webm for
    every 4th doc): cluster 0 holds a no-lacing keyframe block and a
    Xiph-laced 3-frame block whose 303-byte middle frame forces a
    255-run lacing entry; cluster 1 holds a fixed-laced 4×150-byte
    block and an EBML-laced signed-diff-vint block. Every cluster
    leads with the EBML CRC-32 element (IEEE polynomial,
    little-endian); every 7th document gets one frame byte flipped
    AFTER the CRC is sealed, so a walker with a fake CRC fails the
    gate in both directions. `multimodal.mkv_blocks` walks the
    actual bytes — element tree, track vints, relative timestamps,
    all three lacing modes — and the oracle regenerates every fact
    (sizes, timestamps, lacing kinds, the corrupted md5, the crc_ok
    verdicts) by formula. Scale posture: one Arrow mapInPandas stage
    over the repartitioned feeder, linear per row."""
    from memory_engine_spark.operators import multimodal

    docs = (_t(spark, sf)["documents"]
            .select("doc_id", "text", "source")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, text, src in zip(pdf["doc_id"], pdf["text"],
                                    pdf["source"]):
                d = int(d)
                t = (text or "").encode()
                s = (src or "").encode()
                body300 = ((t + b"|") * (300 // (len(t) + 1) + 1))[:300]
                body600 = ((b"F:" + t + b"|")
                           * (600 // (len(t) + 3) + 1))[:600]
                clusters = [
                    (1000 + d % 7,
                     [(1, 0, True, "none", [b"k0:" + t[:40]]),
                      (2, 20, False, "xiph",
                       [b"a0:" + s, b"a1:" + body300,
                        b"a2:" + t[:15]])]),
                    (2000 + d % 7,
                     [(1, 0, True, "fixed",
                       [body600[i * 150:(i + 1) * 150]
                        for i in range(4)]),
                      (2, 20, False, "ebml",
                       [b"e0:" + t[:20], b"e1:" + s + b"#"])]),
                ]
                corrupt = (1, 0, 0, 0x01) if d % 7 == 0 else None
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_mkv(
                    "webm" if d % 4 == 0 else "matroska",
                    1_000_000, (320 + d % 16 * 8, 240 + d % 9 * 8),
                    clusters, corrupt=corrupt))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return (multimodal.fuse_synth_stage(docs, synth,
                                        multimodal.mkv_blocks)
            .orderBy("media_id", "cluster_idx", "block_idx"))


def q195_schema_drift(spark, sf):
    """Schema-on-read drift reconciliation under the oracle gate —
    three producer generations of the same feed (v0: {id, text};
    v1: {id, body, lang} — a RENAME plus a new column; v2: {id,
    body, lang, meta:{src}} — a nested addition) are synthesized as
    REAL JSON lines with to_json, parsed back per-generation with
    from_json under each generation's OWN schema, and unified by
    `formats.schema_drift_union` (alias map body→text, typed
    defaults lang='und' / src='unknown', deterministic canonical
    layout). Row-level output (id, version, lang, src, text_md5) so
    the oracle — a direct formula replay from the documents table —
    catches a rename, default, or nested-extraction bug on any
    single row. Scale posture: purely structural projections; the
    literals fold into each scan, one unionByName, no shuffle."""
    from memory_engine_spark.sources.formats import schema_drift_union

    docs = _t(spark, sf)["documents"].select(
        "doc_id", "text", "lang", "source")
    v = (F.col("doc_id") % 3).cast("int")
    line = (F.when(v == 0, F.to_json(F.struct(
                F.col("doc_id").alias("id"),
                F.col("text"))))
            .when(v == 1, F.to_json(F.struct(
                F.col("doc_id").alias("id"),
                F.col("text").alias("body"),
                F.col("lang"))))
            .otherwise(F.to_json(F.struct(
                F.col("doc_id").alias("id"),
                F.col("text").alias("body"),
                F.col("lang"),
                F.struct(F.col("source").alias("src"))
                .alias("meta")))))
    feed = docs.select(v.alias("version"), line.alias("line"))

    b0 = (feed.filter(F.col("version") == 0)
          .select("version", F.from_json(
              "line", "id bigint, text string").alias("r"))
          .select("version", F.col("r.id").alias("id"),
                  F.col("r.text").alias("text")))
    b1 = (feed.filter(F.col("version") == 1)
          .select("version", F.from_json(
              "line", "id bigint, body string, lang string")
              .alias("r"))
          .select("version", F.col("r.id").alias("id"),
                  F.col("r.body").alias("body"),
                  F.col("r.lang").alias("lang")))
    b2 = (feed.filter(F.col("version") == 2)
          .select("version", F.from_json(
              "line", "id bigint, body string, lang string, "
                      "meta struct<src: string>").alias("r"))
          .select("version", F.col("r.id").alias("id"),
                  F.col("r.body").alias("body"),
                  F.col("r.lang").alias("lang"),
                  F.col("r.meta.src").alias("src")))
    uni = schema_drift_union(
        [b0, b1, b2],
        renames={"body": "text"},
        defaults={"lang": ("string", "und"),
                  "src": ("string", "unknown")})
    return (uni.select(
        F.col("id").alias("doc_id"), "version", "lang", "src",
        F.md5("text").alias("text_md5"))
        .orderBy("doc_id"))


def q196_delta_time_travel(spark, sf):
    """Delta time travel under the oracle gate — the same log, the
    same last-action-wins window, capped at a historic commit
    (`delta_log_snapshot(as_of_version=...)`): snapshots AS OF
    version 4 (before some removes land and before the version-8
    re-add) and AS OF 8 (head) over q188's synth log, per-partition
    aggregates with a version column. The oracle replays liveness at
    each pinned version, so the filter-then-window ordering (filter
    the LOG, not the live set — the classic time-travel bug) breaks
    the hash if inverted. Scale posture: identical to q188 — the
    cap is a pushed-down predicate on the log scan."""
    from memory_engine_spark.sources.formats import delta_log_snapshot

    log = _delta_synth_log(spark, sf)
    out = None
    for v in (4, 8):
        live = delta_log_snapshot(log, as_of_version=v)
        snap = (live.groupBy("part").agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("size").alias("n_bytes"),
            F.sum("num_records").alias("n_records"))
            .withColumn("as_of", F.lit(v).cast("int")))
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("as_of", "part")


def q197_compaction_plan(spark, sf):
    """Small-file compaction planning under the oracle gate — the
    OPTIMIZE planner a lakehouse table needs continuously: over the
    live snapshot's file inventory (q188's replay), files are binned
    per partition by a running-bytes window (bin = exclusive-prefix
    cumulative size div the 8000-byte target) in deterministic path
    order, and the plan reports per-(partition, bin) file counts and
    byte totals — the work units a compactor would rewrite. All
    integer arithmetic (window SUM, floor-div); the oracle replays
    the liveness formula, the path ordering, and the running-sum
    binning, so an inclusive-vs-exclusive prefix bug breaks the
    hash. Scale posture: one window partitioned by the table
    partition — the same shape Delta's OPTIMIZE file-selection
    runs; nothing global."""
    from pyspark.sql import Window as W

    from memory_engine_spark.sources.formats import delta_log_snapshot

    live = delta_log_snapshot(_delta_synth_log(spark, sf))
    w = W.partitionBy("part").orderBy("path")
    binned = (live
              .withColumn("_cum", F.sum("size").over(
                  w.rowsBetween(W.unboundedPreceding, 0)))
              .withColumn("bin", F.expr(
                  "(_cum - size) div 8000").cast("int")))
    return (binned.groupBy("part", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size").alias("bin_bytes"),
        F.min("path").alias("first_path"),
        F.max("path").alias("last_path"))
        .orderBy("part", "bin"))


def q198_zonemap_audit(spark, sf):
    """Zone-map pruning audit under the oracle gate — the
    effectiveness measurement behind every data-layout decision
    (SCALING.md's partition arguments, q93's z-order): 10 id-range
    probe queries are joined against the live snapshot's per-file
    [min_id, max_id] stats (q188's embedded-stats parse), counting
    scanned vs pruned files and the record mass behind them —
    exactly how an engine decides whether min/max stats make a
    range predicate cheap. Counts are integers; the pruned fraction
    is one rounded division. The oracle replays the stats formulas
    and the interval-intersection predicate. Scale posture: the
    10-row probe dim broadcasts; the file inventory never
    shuffles."""
    from memory_engine_spark.sources.formats import delta_log_snapshot

    live = delta_log_snapshot(_delta_synth_log(spark, sf))
    n_docs = _t(spark, sf)["documents"].agg(
        F.count(F.lit(1)).cast("long").alias("nd"))
    probes = (spark.range(10).select(F.col("id").cast("int")
                                     .alias("probe"))
              .crossJoin(F.broadcast(n_docs))
              .select("probe",
                      (F.col("probe") * 10 * F.col("nd"))
                      .alias("lo"),
                      (F.col("probe") * 10 * F.col("nd")
                       + 5 * F.col("nd") - 1).alias("hi")))
    hit = (F.col("max_id") >= F.col("lo")) \
        & (F.col("min_id") <= F.col("hi"))
    joined = live.crossJoin(F.broadcast(probes))
    return (joined.groupBy("probe", "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(hit.cast("long")).cast("long").alias("n_scanned"),
        F.sum(F.when(hit, F.col("num_records")).otherwise(0))
        .cast("long").alias("est_records"))
        .select("probe", "lo", "hi", "n_total", "n_scanned",
                "est_records",
                F.round((F.col("n_total") - F.col("n_scanned"))
                        / F.col("n_total"), 6).alias("pruned_frac"))
        .orderBy("probe"))


def q194_graph_stats(spark, sf):
    """Directed-graph structural profile under the oracle gate —
    the pre-flight summary a graph pipeline computes before picking
    algorithms (reciprocity decides directed-vs-symmetrized,
    clustering/assortativity decide skew strategy): the part-
    co-occurrence graph at SUPPORT ≥ 2 (q79's build gated by the
    classic market-basket prune — singleton co-occurrences are
    noise at any SF and quadratic noise at 100 TB) given deterministic
    directions (u→v always, v→u when (u+v)%3=0, so reciprocity
    lands near 1/3), profiled by `graph.graph_stats` — reciprocity
    via a self-semi-join, the exact triangle census via the degree-
    oriented wedge join, and Newman assortativity from exact BIGINT
    moment sums with only the closed-form final expression float.
    The oracle replays the direction rule, the EXISTS reciprocity,
    the a<b<c triangle join, and the moment formula term-for-term."""
    from memory_engine_spark.operators.graph import graph_stats

    li = (_t(spark, sf)["lineitem"]
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk")).distinct())
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.ok") == F.col("b.ok"))
                    & (F.col("a.pk") < F.col("b.pk")))
             .groupBy(F.col("a.pk").alias("u"),
                      F.col("b.pk").alias("v"))
             .agg(F.count(F.lit(1)).alias("_support"))
             .filter(F.col("_support") >= 2)
             .select("u", "v"))
    fwd = pairs.select(F.col("u").alias("from_id"),
                       F.col("v").alias("to_id"))
    back = (pairs.filter((F.col("u") + F.col("v")) % 3 == 0)
            .select(F.col("v").alias("from_id"),
                    F.col("u").alias("to_id")))
    return graph_stats(fwd.unionAll(back))


def q192_calibration(spark, sf):
    """Classifier-calibration audit under the oracle gate — the op a
    quality/toxicity-gated pipeline runs before trusting a filter
    threshold (reliability bins + ECE + Brier): confidences arrive
    as integer MILLI-UNITS (conf_u = ((doc_id·17)%100)·10+5) and
    outcomes from an independent residue ((doc_id·31)%100 < k), so
    the synthetic model is roughly-but-not-exactly calibrated and
    every bin shows a real gap. `quality.calibration_report` bins by
    integer division (no float floor at edges), accumulates BIGINT
    gap/Brier numerators, and spends exactly one float division per
    metric. The oracle replays bins and both scores, so a binning,
    clamp, or numerator bug breaks the hash."""
    from memory_engine_spark.operators.quality import (
        calibration_report)

    d = F.col("doc_id")
    k = (d * 17) % 100
    rows = _t(spark, sf)["documents"].select(
        (k * 10 + 5).cast("long").alias("conf_u"),
        ((d * 31) % 100 < k).cast("long").alias("label"))
    return calibration_report(rows, "conf_u", "label").orderBy("bin")


def q193_bootstrap_ci(spark, sf):
    """Deterministic Poisson bootstrap under the oracle gate
    (Chamandy et al. 2012 — the 100-TB bootstrap: Poisson(1)
    replica WEIGHTS on a scan instead of resampling shuffles): 20
    replicates of the corpus-mean document length, each row's
    replica count drawn from md5(salt‖b‖id) mod 10⁴ mapped through
    `corpus.poisson_cum_u`'s shared-literal CDF thresholds — no
    runtime exp/factorial in either engine. Per-replicate Σk and
    Σk·v are exact BIGINTs; the oracle replays the md5 uniform, the
    threshold CASE, and the weighted sums, so a hash, threshold, or
    weighting bug breaks the hash. The 2.5/97.5-percentile CI over
    the 20 replicate means is pinned in pytest (driver-trivial
    epilogue over B rows)."""
    from memory_engine_spark.operators.corpus import poisson_bootstrap

    docs = _t(spark, sf)["documents"].select("doc_id", "n_chars")
    return (poisson_bootstrap(docs, "n_chars", "doc_id",
                              n_replicates=20, salt="boot")
            .orderBy("replicate"))


def q191_chrf_eval(spark, sf):
    """Corpus chrF2 evaluation under the oracle gate (Popović 2015)
    — the character-level metric completing the MT/summarization
    eval suite (q180 BLEU precision-side, q186 ROUGE recall-side,
    chrF the tokenizer-free third): same shifted word windows as
    q186, whitespace stripped, character n-grams n = 1..6 via
    substring explodes + clip joins (18 exact integer components),
    then the pinned effective-order averaging and the β = 2
    F-score as the only float math (rounded 6dp). The oracle
    replays all six clip joins and the exact left-to-right
    float-summation order, so a windowing, stripping, char-gram or
    averaging bug breaks the hash."""
    from memory_engine_spark.operators.corpus import chrf_report

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    pairs = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 2, 12)).alias("cand"),
        F.concat_ws(" ", F.slice(toks, 1, 20)).alias("ref"))
    return chrf_report(pairs).orderBy("doc_id")


def q190_parquet_column_decode(spark, sf):
    """REAL parquet DATA-path decode under the oracle gate — the
    deep twin of q184's footer walk: for every INT64 key column in
    the corpus, `formats.parquet_read_int64_column_file` reads the actual
    table file with no parquet library anywhere — thrift-compact
    footer, per-row-group chunk location, thrift PageHeaders, PURE-
    PYTHON SNAPPY block decompression, PLAIN dictionary pages, RLE/
    bit-packed hybrid def-levels + dictionary indices, and the PLAIN
    fallback pages writers emit once a dictionary overflows — and
    the query aggregates the decoded values. The oracle computes
    COUNT/SUM/MIN/MAX from the registered views: two unrelated
    parquet implementations agreeing about the same real bytes,
    value-exactly. A snappy tag, varint, bit-packing-order, def-
    level, or dictionary bug breaks the hash. Scale posture: chunk
    walking is per-(file, row-group, column) — embarrassingly
    parallel, exactly parquet's own split model; one file per task
    here, one row group per task at 100 TB. I/O posture (r12
    verdict): tail-range footer read + ONE range read per target
    column chunk — bytes touched = footer + that column's
    compressed chunks, never the other columns."""
    import os

    from memory_engine_spark.sources.formats import (
        parquet_read_int64_column_file)

    paths = spark.createDataFrame(
        [(t, c, os.path.join(sf, f"{t}.parquet"))
         for t, c in PQ_INT64_COLS],
        "tbl string, col string, path string")

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for t, c, p in zip(pdf["tbl"], pdf["col"], pdf["path"]):
                vals = parquet_read_int64_column_file(p, c)
                nn = [v for v in vals if v is not None]
                rows.append({
                    "tbl": t, "col": c,
                    "n_values": len(nn),
                    "n_nulls": len(vals) - len(nn),
                    "vsum": sum(nn), "vmin": min(nn),
                    "vmax": max(nn)})
            yield pd.DataFrame(rows, columns=[
                "tbl", "col", "n_values", "n_nulls", "vsum",
                "vmin", "vmax"])

    return (paths.repartition(8, "tbl")
            .mapInPandas(
                probe, "tbl string, col string, n_values long, "
                       "n_nulls long, vsum long, vmin long, "
                       "vmax long")
            .orderBy("tbl"))


def q244_parquet_string_decode(spark, sf):
    """BYTE_ARRAY twin of q190's INT64 data-path proof (r14 named
    gap, PLANS.md): for every string column in the corpus,
    `formats.parquet_read_string_column_file` reads the actual table
    file with no parquet library — same footer/page/snappy/RLE
    machinery as q190, plus the framing that is NEW surface here:
    length-prefixed BYTE_ARRAY values in PLAIN data pages AND PLAIN
    dictionary pages, decoded strict-UTF-8. The aggregate row per
    (table, column) carries counts, min/max, a character-length sum,
    and an order-insensitive md5-fold (first 15 hex digits of each
    value's md5, summed mod 2^61-1) — the oracle recomputes all six
    from the registered views with DuckDB's own md5, so two
    unrelated decoders must agree value-exactly about every string
    byte. A length-prefix, dictionary-framing, def-level, or UTF-8
    bug breaks the hash. Scale/I-O posture identical to q190:
    per-(file, row-group, column) chunk walking, tail-range footer +
    one range read per target chunk. Reference parity: the
    reference's exporters re-serialize string fields row-at-a-time
    (memory_core/migration/data_exporter.py); this proves the
    columnar read side byte-exactly."""
    import hashlib
    import os

    from memory_engine_spark.sources.formats import (
        parquet_read_string_column_file)

    M = (1 << 61) - 1
    paths = spark.createDataFrame(
        [(t, c, os.path.join(sf, f"{t}.parquet"))
         for t, c in PQ_STRING_COLS],
        "tbl string, col string, path string")

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for t, c, p in zip(pdf["tbl"], pdf["col"], pdf["path"]):
                vals = parquet_read_string_column_file(p, c)
                nn = [v for v in vals if v is not None]
                rows.append({
                    "tbl": t, "col": c,
                    "n_values": len(nn),
                    "n_nulls": len(vals) - len(nn),
                    "vmin": min(nn) if nn else None,
                    "vmax": max(nn) if nn else None,
                    "len_sum": sum(len(v) for v in nn),
                    "md5_fold": sum(
                        int(hashlib.md5(v.encode("utf-8"))
                            .hexdigest()[:15], 16)
                        for v in nn) % M})
            yield pd.DataFrame(rows, columns=[
                "tbl", "col", "n_values", "n_nulls", "vmin",
                "vmax", "len_sum", "md5_fold"])

    return (paths.repartition(9, "tbl", "col")
            .mapInPandas(
                probe, "tbl string, col string, n_values long, "
                       "n_nulls long, vmin string, vmax string, "
                       "len_sum long, md5_fold long")
            .orderBy("tbl", "col"))


def q245_parquet_delta_decode(spark, sf):
    """Parquet DELTA-family decode under the oracle gate (r14 named
    gap, PLANS.md): per (table, column, encoding) a mapInPandas task
    reads the source column with pyarrow (the INDEPENDENT
    implementation), re-writes it IN MEMORY as a real parquet blob
    with the requested v2-era encoding — DELTA_BINARY_PACKED int64
    AND int32 (region/nation keys: 32-bit wraparound is its own
    decode branch), DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY
    strings, dictionary disabled so the delta path is actually
    taken — then decodes the
    blob with the hand-rolled reader (`formats._delta_binary_packed`
    family: ULEB128 block headers, zigzag min-deltas, LSB-first
    bit-packed miniblocks with the needed-miniblock rule,
    prefix+suffix chains) and aggregates the decoded values into the
    q244 md5-fold (int64 folds its decimal text form — exactly
    DuckDB's CAST(v AS VARCHAR)). The oracle recomputes counts and
    folds from the registered views, so a block-header, zigzag,
    bit-order, needed-miniblock, prefix-chain, or wraparound bug
    breaks the hash against values pyarrow encoded. Scale posture:
    per-(table, column) tasks, bytes never on the driver; at 100 TB
    the unit is the row group, exactly parquet's split model."""
    import hashlib
    import os

    from memory_engine_spark.sources.formats import (
        parquet_read_int64_column, parquet_read_string_column)

    M = (1 << 61) - 1
    # kind: which hand-rolled reader decodes the re-encoded blob —
    # i32 covers the corpus's remaining key width (region/nation,
    # 32-bit delta wraparound), the r14 INT32 extension
    COLS = [("customer", "c_mktsegment", "DELTA_LENGTH_BYTE_ARRAY",
             "str"),
            ("documents", "lang", "DELTA_BYTE_ARRAY", "str"),
            ("events", "event_id", "DELTA_BINARY_PACKED", "i64"),
            ("nation", "n_nationkey", "DELTA_BINARY_PACKED", "i32"),
            ("orders", "o_orderkey", "DELTA_BINARY_PACKED", "i64"),
            ("part", "p_brand", "DELTA_LENGTH_BYTE_ARRAY", "str"),
            ("region", "r_regionkey", "DELTA_BINARY_PACKED", "i32"),
            ("supplier", "s_name", "DELTA_BYTE_ARRAY", "str")]
    paths = spark.createDataFrame(
        [(t, c, e, k, os.path.join(sf, f"{t}.parquet"))
         for t, c, e, k in COLS],
        "tbl string, col string, enc string, kind string, path string")

    def probe(batches):
        import io

        import pandas as pd
        import pyarrow.parquet as pq

        from memory_engine_spark.sources.formats import (
            parquet_read_int32_column)

        readers = {"i64": parquet_read_int64_column,
                   "i32": parquet_read_int32_column,
                   "str": parquet_read_string_column}
        for pdf in batches:
            rows = []
            for t, c, e, k, p in zip(pdf["tbl"], pdf["col"],
                                     pdf["enc"], pdf["kind"],
                                     pdf["path"]):
                src = pq.read_table(p, columns=[c])
                buf = io.BytesIO()
                pq.write_table(src, buf, compression="snappy",
                               use_dictionary=False,
                               column_encoding={c: e})
                blob = buf.getvalue()
                vals = readers[k](blob, c)
                texts = [v if k == "str" else str(v)
                         for v in vals if v is not None]
                rows.append({
                    "tbl": t, "col": c, "enc": e,
                    "n_values": len(texts),
                    "n_nulls": len(vals) - len(texts),
                    "md5_fold": sum(
                        int(hashlib.md5(x.encode("utf-8"))
                            .hexdigest()[:15], 16)
                        for x in texts) % M})
            yield pd.DataFrame(rows, columns=[
                "tbl", "col", "enc", "n_values", "n_nulls",
                "md5_fold"])

    return (paths.repartition(8, "tbl", "col")
            .mapInPandas(
                probe, "tbl string, col string, enc string, "
                       "n_values long, n_nulls long, md5_fold long")
            .orderBy("tbl", "col"))


def q246_parquet_codec_decode(spark, sf):
    """Parquet GZIP + LZ4_RAW page-codec decode under the oracle
    gate (r15 named gap, PLANS.md): per (table, column, codec,
    page-version, dictionary-mode) a mapInPandas task reads the
    source column with pyarrow (the INDEPENDENT implementation),
    re-writes it IN MEMORY as a real parquet blob compressed with
    the requested codec — GZIP (RFC-1952 member per page) and
    LZ4_RAW (bare LZ4 block, codec 7, pyarrow's modern 'lz4') —
    across v1 pages (levels inside the compressed body), v2 pages
    (levels outside, is_compressed flag), PLAIN-framed dictionary
    pages AND plain data pages, then decodes the blob with the
    hand-rolled reader (`formats._pq_decode_chunk`: size-pinned
    zlib inflate, `_lz4_block_decompress` with the output cap) and
    aggregates the decoded values into the q244/q245 md5-fold. The
    oracle recomputes counts and folds from the registered views, so
    a member-framing, size-claim, copy-replay, or level-placement
    bug in either codec path breaks the hash against values pyarrow
    compressed. Scale posture: identical to q245 — per-(table,
    column) tasks, bytes never on the driver; at 100 TB the unit is
    the row group, exactly parquet's split model. Reference parity:
    the reference's exporters write whole-object JSON/CSV
    (memory_core/migration/data_exporter.py) — page-codec-aware
    columnar reads are this engine's lakehouse extension surface."""
    import hashlib
    import os

    M = (1 << 61) - 1
    # (tbl, col, codec, data-page-version, dict?, kind): covers
    # gzip/lz4 × v1/v2 × dictionary/plain × i64/i32/str
    COLS = [("customer", "c_name", "gzip", "1.0", 0, "str"),
            ("documents", "source", "lz4", "2.0", 1, "str"),
            ("events", "user_id", "gzip", "2.0", 1, "i64"),
            ("nation", "n_regionkey", "lz4", "1.0", 1, "i32"),
            ("orders", "o_custkey", "lz4", "1.0", 0, "i64"),
            ("part", "p_type", "gzip", "2.0", 0, "str"),
            ("region", "r_name", "lz4", "2.0", 0, "str"),
            ("supplier", "s_suppkey", "gzip", "1.0", 1, "i64")]
    paths = spark.createDataFrame(
        [(t, c, cd, v, d, k, os.path.join(sf, f"{t}.parquet"))
         for t, c, cd, v, d, k in COLS],
        "tbl string, col string, codec string, dpv string, "
        "use_dict int, kind string, path string")

    def probe(batches):
        import io

        import pandas as pd
        import pyarrow.parquet as pq

        from memory_engine_spark.sources.formats import (
            parquet_read_int32_column, parquet_read_int64_column,
            parquet_read_string_column)

        readers = {"i64": parquet_read_int64_column,
                   "i32": parquet_read_int32_column,
                   "str": parquet_read_string_column}
        for pdf in batches:
            rows = []
            for t, c, cd, v, d, k, p in zip(
                    pdf["tbl"], pdf["col"], pdf["codec"], pdf["dpv"],
                    pdf["use_dict"], pdf["kind"], pdf["path"]):
                src = pq.read_table(p, columns=[c])
                buf = io.BytesIO()
                pq.write_table(src, buf, compression=cd,
                               data_page_version=v,
                               use_dictionary=bool(d))
                blob = buf.getvalue()
                vals = readers[k](blob, c)
                texts = [v2 if k == "str" else str(v2)
                         for v2 in vals if v2 is not None]
                rows.append({
                    "tbl": t, "col": c, "codec": cd, "dpv": v,
                    "n_values": len(texts),
                    "n_nulls": len(vals) - len(texts),
                    "md5_fold": sum(
                        int(hashlib.md5(x.encode("utf-8"))
                            .hexdigest()[:15], 16)
                        for x in texts) % M})
            yield pd.DataFrame(rows, columns=[
                "tbl", "col", "codec", "dpv", "n_values", "n_nulls",
                "md5_fold"])

    return (paths.repartition(8, "tbl", "col")
            .mapInPandas(
                probe, "tbl string, col string, codec string, "
                       "dpv string, n_values long, n_nulls long, "
                       "md5_fold long")
            .orderBy("tbl", "col"))


def q189_orc_footer(spark, sf):
    """ORC physical-metadata introspection under the oracle gate —
    the parquet/avro/orc format-walking trio's last leg: Spark
    WRITES eight tables as real zlib ORC files (its native writer),
    then `formats.orc_footer_meta_file` walks the tail bytes with a
    hand-rolled protobuf reader (varint field keys, packed uint32s,
    the 3-byte chunked-deflate ORC framing for the compressed
    footer; no ORC library anywhere) to recover numberOfRows, the
    stripe directory, and the root-struct fieldNames. The oracle
    (q184's design) derives the same facts from the registered
    views — COUNT(*) and information_schema — so the hash is two
    unrelated implementations agreeing about real bytes, including
    the stripe-rows-sum invariant. Scale posture: stripes are ORC's
    split/row-group unit; this is the stripe-sizing audit op,
    mirroring q184's parquet row-group audit. I/O posture (r12
    verdict): postscript + footer come from ONE tail-range read
    (exact retry if the footer exceeds the 64 KB hint) — never the
    whole file."""
    import glob
    import os
    import tempfile

    from memory_engine_spark.sources.formats import orc_footer_meta_file

    dest = os.path.join(
        tempfile.gettempdir(),
        f"me_orcprobe_{os.path.basename(sf.rstrip('/')) or 'd'}"
        f"_{os.getpid()}")
    tabs = _t(spark, sf)
    files = []
    for t in ORC_PROBE_TABLES:
        d = os.path.join(dest, t)
        if not glob.glob(os.path.join(d, "*.orc")):
            (tabs[t].coalesce(1).write.format("orc")
             .option("compression", "zlib").mode("overwrite").save(d))
        files.append((t, glob.glob(os.path.join(d, "*.orc"))[0]))
    paths = spark.createDataFrame(files, "tbl string, path string")

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for t, p in zip(pdf["tbl"], pdf["path"]):
                m = orc_footer_meta_file(p)
                rows.append({
                    "tbl": t, "num_rows": m["num_rows"],
                    "n_top_columns": m["n_top_columns"],
                    "n_stripes": len(m["stripes"]),
                    "stripe_rows_total": sum(s["num_rows"]
                                             for s in m["stripes"]),
                    "compression": m["compression"]})
            yield pd.DataFrame(rows, columns=[
                "tbl", "num_rows", "n_top_columns", "n_stripes",
                "stripe_rows_total", "compression"])

    out = paths.mapInPandas(
        probe, "tbl string, num_rows long, n_top_columns int, "
               "n_stripes int, stripe_rows_total long, "
               "compression string")
    return (out.select(
        "tbl", "num_rows", "n_top_columns",
        (F.col("stripe_rows_total") == F.col("num_rows"))
        .alias("stripe_sum_consistent"), "compression")
        .orderBy("tbl"))


def q188_delta_snapshot(spark, sf):
    """Lakehouse transaction-log replay under the oracle gate — the
    Delta-Lake-shape op a 100-TB table depends on for every read:
    each document synthesizes REAL JSON action lines (add with
    partitionValues + size + stats as the format's JSON-IN-JSON
    string; remove; a version-8 compaction RE-ADD; a metaData line
    with format.provider) via to_json, and the read path parses them
    back with get_json_object only — no string surgery — then
    `formats.delta_log_snapshot` replays last-action-wins per path
    (one row_number window) into the live file set: add→remove→
    re-add must come back, add→remove must stay gone. The snapshot
    aggregates live files per partition (files/bytes/records/id
    bounds from the embedded stats). The oracle replays the
    liveness + stats formulas, so a JSON path, window-order, or
    liveness bug breaks the hash. Scale posture: replay partitions
    by path (per-path top-1 window), snapshot is one groupBy on the
    partition value — exactly how Delta log checkpointing scales."""
    from memory_engine_spark.sources.formats import delta_log_snapshot

    log = _delta_synth_log(spark, sf)

    live = delta_log_snapshot(log)
    provider = (log.select(F.get_json_object(
        "line", "$.metaData.format.provider").alias("provider"))
        .filter(F.col("provider").isNotNull()).distinct())
    snap = live.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size").alias("n_bytes"),
        F.sum("num_records").alias("n_records"),
        F.min("min_id").alias("min_id"),
        F.max("max_id").alias("max_id"))
    return snap.crossJoin(F.broadcast(provider)).orderBy("part")


def q187_ir_eval(spark, sf):
    """Ranked-retrieval evaluation harness under the oracle gate —
    MRR, P@10, recall@10, nDCG@10 and MAP per query, the metrics a
    RAG / search pipeline computes over millions of judgments: 8
    query terms, ranker = term frequency in the FIRST 15 tokens (a
    truncated-view retriever), graded relevance = LEAST(2, tf in
    tokens 16+) — the part the ranker never sees, so rankings are
    genuinely imperfect and every metric lands strictly inside
    (0, 1). `ranking.ir_eval_report` keeps all accumulations BIGINT
    (gain × quantized discount table products, (quant*cumrel)//rank
    floor divisions); the discount integers are injected as the SAME
    literals into the DuckDB oracle via `ir_disc_u`, so no runtime
    log2 exists anywhere and a ranking, cumulative-count, ideal-DCG
    or tiebreak bug breaks the hash. Scale posture: judgments
    partition by query id; two windows + one groupBy, nothing
    quadratic; the 8-row query dim is broadcast."""
    from memory_engine_spark.operators.ranking import ir_eval_report

    terms = spark.createDataFrame(
        [(t,) for t in IR_TERMS], "term string")
    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    j = (docs.crossJoin(F.broadcast(terms))
         .select(
             "term", "doc_id",
             F.size(F.filter(F.slice(toks, 1, 15),
                             lambda x: x == F.col("term")))
             .cast("long").alias("score"),
             F.least(F.lit(2), F.size(F.filter(
                 F.slice(toks, 16, 1 << 20),
                 lambda x: x == F.col("term"))))
             .cast("int").alias("rel")))
    return ir_eval_report(j, qid_col="term").orderBy("term")


def q186_rouge_eval(spark, sf):
    """Corpus ROUGE-1/2 evaluation under the oracle gate (Lin 2004 —
    the recall-side summarization/SFT eval metric, completing the
    MT-eval pillar next to q180's BLEU): each document yields a
    (candidate, reference) pair by shifted word windows (cand =
    words 2..13, ref = words 1..20 — real partial overlap with the
    candidate both missing reference grams and never spamming), and
    `corpus.rouge_report` computes CLIPPED n-gram matches for
    n = 1, 2 via per-n gram explodes + an inner join on (id, gram)
    — exact integer match/total components — from which precision,
    recall and F1 are single float ratios rounded to 6dp. The
    oracle replays both clip joins and the three ratios, so a
    windowing, clipping, or guard bug breaks the hash. Reference
    parity: unit-overlap evidence scoring in the reference's QA path
    is row-at-a-time driver code; here it is all JVM-side joins."""
    from memory_engine_spark.operators.corpus import rouge_report

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    pairs = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 2, 12)).alias("cand"),
        F.concat_ws(" ", F.slice(toks, 1, 20)).alias("ref"))
    return rouge_report(pairs).orderBy("doc_id")


def q185_avro_container(spark, sf):
    """REAL Avro object-container parsing under the oracle gate —
    the row-oriented lakehouse interchange format (Kafka archives,
    Sqoop exports): 'Obj\\x01' magic, metadata map (avro.schema
    JSON + codec), 16-byte sync-delimited blocks, and record bodies
    decoded with Avro binary primitives (zigzag varints for long —
    negative ids included — and length-prefixed UTF-8 strings).
    Each document synthesizes a (3 + doc_id%4)-record container in
    2-record blocks (short last block), Deflate codec on every
    third doc, one NEGATIVE id per doc (the zigzag edge); the
    oracle regenerates record facts from the formula. Sync
    verification after every block means a framing bug cannot slide.
    Scale posture: sync markers exist precisely so splits can
    resynchronize mid-file — the Avro analogue of row groups."""
    from memory_engine_spark.sources.formats import (avro_pair_entries,
                                                     synth_avro_pairs)

    docs = (_t(spark, sf)["documents"].select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                recs = []
                for k in range(3 + d % 4):
                    rid = -(d + k) if k == 1 else d * 10 + k
                    recs.append((rid, f"rec {d} {k} {txt[:40]}"))
                ids.append(f"m_{d}")
                payloads.append(synth_avro_pairs(
                    recs, block_size=2, deflate=(d % 3 == 0)))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, avro_pair_entries).orderBy("media_id", "rec_idx")


def q184_parquet_footer(spark, sf):
    """Parquet PHYSICAL-metadata introspection under the oracle gate
    — FileMetaData parsed from the actual table files with a
    hand-rolled Thrift compact-protocol reader (varint/zigzag field
    headers, nested structs/lists; no parquet library anywhere):
    the storage-observability op a lakehouse needs for row-group
    sizing audits. THIS oracle is the strongest in the suite: no
    synth twins at all — the Spark side walks the real footer bytes
    of the same files the DuckDB side scans, and num_rows must equal
    COUNT(*) while n_top_columns must equal the view's
    information_schema column count (two unrelated implementations
    agreeing about real bytes). The row-group-level fields
    (per-group rows/bytes/columns) are additionally cross-validated
    against duckdb's parquet_metadata() in pytest. I/O posture (r12
    verdict, the weak-pair fix): the probe READS ONLY THE TAIL —
    stat + 4-byte head magic + one 64 KB tail slice (one exact
    retry if the footer exceeds it), never the whole file; at
    100 TB a footer audit touches KBs per multi-GB file."""
    import os

    from memory_engine_spark.sources.formats import (
        parquet_footer_meta_file)

    tables = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"]
    paths = spark.createDataFrame(
        [(t, os.path.join(sf, f"{t}.parquet")) for t in tables],
        "tbl string, path string")

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for t, p in zip(pdf["tbl"], pdf["path"]):
                m = parquet_footer_meta_file(p)
                rows.append({
                    "tbl": t, "num_rows": m["num_rows"],
                    "n_top_columns": m["n_top_columns"],
                    "n_row_groups": len(m["row_groups"]),
                    "rg_rows_total": sum(r["num_rows"]
                                         for r in m["row_groups"])})
            yield pd.DataFrame(rows, columns=[
                "tbl", "num_rows", "n_top_columns", "n_row_groups",
                "rg_rows_total"])

    out = paths.mapInPandas(
        probe, "tbl string, num_rows long, n_top_columns int, "
               "n_row_groups int, rg_rows_total long")
    # row-group rows must sum to the file total — assert relationally
    # so the driver-visible result carries the invariant
    return (out.select(
        "tbl", "num_rows", "n_top_columns",
        (F.col("rg_rows_total") == F.col("num_rows"))
        .alias("rg_sum_consistent"))
        .orderBy("tbl"))


def q183_tfrecord_entries(spark, sf):
    """REAL TFRecord walking under the oracle gate — TensorFlow's
    dataset container, the third ML shard format next to WebDataset
    tar (q181) and zip (q182). The wire format's whole point is the
    MASKED CRC-32C (Castagnoli polynomial — NOT zlib's crc32; the
    rotl-15 + 0xa282ead8 mask keeps CRCs from colliding inside
    checksummed streams), verified on both the length word (so a
    reader never trusts a corrupt length) and the payload.
    `formats._crc32c` is pinned to the standard check value
    crc32c('123456789') == 0xE3069283 in tests. Each document
    synthesizes 2 + doc_id%3 records (one zero-length) with formula
    bodies; the oracle regenerates the facts. Scale posture:
    records are sequential within a shard; shards parallelize —
    the TF input pipeline's own sharding model."""
    from memory_engine_spark.sources.formats import (synth_tfrecord,
                                                     tfrecord_entries)

    docs = (_t(spark, sf)["documents"].select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                recs = []
                for k in range(2 + d % 3):
                    recs.append(b"" if k == 1 and d % 4 == 0 else
                                f"ex {d} {k} {txt}".encode())
                ids.append(f"m_{d}")
                payloads.append(synth_tfrecord(recs))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, tfrecord_entries).orderBy("media_id", "rec_idx")


def q182_zip_entries(spark, sf):
    """REAL ZIP parsing under the oracle gate — THROUGH the central
    directory, the way a correct reader works: EOCD found by a
    backwards tail scan, central entries give methods/sizes/offsets,
    local headers re-read for their own name/extra lengths, Deflate
    members inflate raw, CRC-32 + size verified per member. Each
    document synthesizes a 3-member ZIP alternating Stored/Deflate
    whose FIRST member body embeds a fake 'PK\\x03\\x04' signature —
    a forward-scanning reader desynchronizes on it and fails the
    digest. Twins cross-validated against stdlib zipfile in BOTH
    directions in tests. The oracle regenerates entry facts from the
    member formula (method from the synth's alternation rule).
    Scale posture: the central directory is the row-group analogue —
    (offset, csize) per member enables random access, so archive
    members parallelize without scanning."""
    from memory_engine_spark.sources.formats import (synth_zip,
                                                     zip_entries)

    docs = (_t(spark, sf)["documents"].select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                entries = [
                    (f"doc{d}/m0", b"PK\x03\x04 decoy "
                     + f"body {d} 0 {txt}".encode()),
                    (f"doc{d}/m1", f"body {d} 1 {txt}".encode()),
                    (f"doc{d}/m2", f"body {d} 2".encode()),
                ]
                ids.append(f"m_{d}")
                payloads.append(synth_zip(entries, deflate_every=2))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, zip_entries).orderBy("media_id", "entry_idx")


def q181_tar_entries(spark, sf):
    """REAL TAR (ustar) archive walking under the oracle gate —
    dataset tarballs (WebDataset shards among them) are the other
    archive a pipeline must enumerate. Each document synthesizes a
    (2 + doc_id%2)-member tar whose member bodies follow a
    deterministic formula (one member is empty — the zero-size
    padding edge); `formats.tar_entries` walks the real 512-byte
    block protocol: checksum verification with the field blanked
    (the classic trap), octal sizes, padding skip, zero-block
    terminator. The synth/parse pair is additionally cross-validated
    against the STDLIB tarfile module in BOTH directions in tests —
    an independent third implementation, stronger than a hand
    vector. The oracle regenerates the entry facts from the
    formula. Scale posture: tar members are sequential (sizes gate
    the walk) but SHARDS are the parallel unit — exactly
    WebDataset's design."""
    from memory_engine_spark.sources.formats import (synth_tar,
                                                     tar_entries)

    docs = (_t(spark, sf)["documents"].select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                entries = []
                for k in range(2 + d % 2):
                    body = (b"" if k == 1 and d % 3 == 0 else
                            f"shard {d} member {k} {txt}".encode())
                    entries.append((f"doc{d}/part{k}.txt", body))
                ids.append(f"m_{d}")
                payloads.append(synth_tar(entries))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, tar_entries).orderBy("media_id", "entry_idx")


def q180_bleu_eval(spark, sf):
    """Corpus BLEU evaluation under the oracle gate (Papineni et al.
    2002 — the eval-side n-gram metric an LLM data/eval pipeline runs
    at scale): each document yields a (candidate, reference) pair by
    shifted word windows (cand = words 3..18, ref = words 1..20 —
    real partial n-gram overlap and a brevity-penalty-active length
    gap); `corpus.bleu_report` computes CLIPPED modified precisions
    for n=1..4 via per-n gram explodes + an inner join on (id, gram)
    — exact integer components — plus the unsmoothed sentence BLEU
    (ln/exp only in the final rounded-6dp scalar). The oracle
    replays all four n-gram clip joins and the BP formula, so a
    clipping, windowing, or BP bug breaks the hash."""
    from memory_engine_spark.operators.corpus import bleu_report

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    pairs = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 3, 16)).alias("cand"),
        F.concat_ws(" ", F.slice(toks, 1, 20)).alias("ref"))
    return bleu_report(pairs).orderBy("doc_id")


def q179_tiff_pixels(spark, sf):
    """REAL TIFF decode under the oracle gate — the scan-corpus image
    format the q156/q157/q162 wave left out, and the one where BYTE
    ORDER is part of the wire format: each document synthesizes a
    baseline RGB TIFF alternating 'II' little / 'MM' big endian
    (doc_id%2) and uncompressed / PackBits strips (doc_id%3==0),
    always multi-strip (RowsPerStrip=2, short last strip);
    `multimodal.image_pixel_stats` dispatches on the TIFF magic and
    walks the IFD → strip table → PackBits inflate into exact int64
    per-channel sums. The oracle replays the pixel formula, so an
    endianness, IFD-layout, strip-offset, or PackBits bug breaks the
    hash."""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 5 + d % 4, 4 + d % 3
                r = np.arange(h).reshape(h, 1, 1)
                c = np.arange(w).reshape(1, w, 1)
                ch = np.arange(3).reshape(1, 1, 3)
                px = ((d * 19 + r * 13 + c * 7 + ch * 5) % 256) \
                    .astype(np.uint8)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_tiff(
                    px, big_endian=(d % 2 == 1),
                    packbits=(d % 3 == 0)))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    stats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.image_pixel_stats)
    return (stats.select(
        "media_id", "width", "height", "channels",
        *[F.col("csum")[i].alias(f"s{i}") for i in range(3)],
        *[F.col("csqsum")[i].alias(f"q{i}") for i in range(3)])
        .orderBy("media_id"))


def q178_chat_render(spark, sf):
    """SFT example assembly under the oracle gate: multi-turn
    conversations (2 + doc_id%2 rounds, user/assistant texts sliced
    from the document) render into the chat-template training string
    WHILE emitting the per-assistant-turn LOSS-MASK offsets
    (asst_start, asst_len) a trainer needs to compute loss on
    assistant tokens only. `corpus.render_chat` derives the offsets
    from an exclusive prefix-sum window over per-turn block lengths;
    the oracle replays the template + window arithmetic, and the
    render_md5 + offsets pair means an off-by-one anywhere (template
    literal lengths, prefix sum, 1-based indexing) breaks the hash.
    The substr invariant (rendered[start:start+len] == assistant
    text) is pinned separately in tests."""
    from memory_engine_spark.operators.corpus import render_chat

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    d = F.col("doc_id")
    r = F.col("round")
    turns = (docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), (d % 2 + 1).cast("int")))
        .alias("round"))
        .select(
            "doc_id", "round",
            F.concat(F.lit("Q"), r.cast("string"), F.lit(" "),
                     F.col("text").substr(1 + r * 20, F.lit(24)))
            .alias("user_msg"),
            F.concat(F.lit("A"), r.cast("string"), F.lit(" "),
                     F.col("text").substr(5 + r * 10, F.lit(18)))
            .alias("asst_msg")))
    return (render_chat(turns)
            .orderBy("doc_id", "round"))


def q177_span_corruption(spark, sf):
    """T5-style span corruption under the oracle gate (Raffel et al.
    2020 §3.1.4 — the denoising-objective prep a seq2seq pretraining
    pipeline runs over every document): deterministic md5 coin per
    token (~20%), consecutive masked tokens collapse to one span,
    the input swaps each span for an ordinal <extra_id_k> sentinel
    and the target lists sentinel+hidden tokens with a terminal
    sentinel. `corpus.span_corrupt` is pure relational machinery —
    posexplode, gaps-and-islands span grouping (pos − row_number),
    two ordered re-aggregations, per-document windows only — and
    the oracle replays every step (the md5→int coin via the q65 hex
    trick), so a span-boundary, sentinel-order, or coin bug breaks
    the hash. Input+target reconstruct the original exactly (pinned
    by a pytest invariant)."""
    from memory_engine_spark.operators.corpus import span_corrupt

    docs = _t(spark, sf)["documents"].select("doc_id", "text")
    out = span_corrupt(docs, "text", "doc_id")
    return (out.select(
        "doc_id", F.md5("input_text").alias("input_md5"),
        F.md5("target_text").alias("target_md5"),
        "n_spans", "n_masked")
        .orderBy("doc_id"))


def q176_pdf_text(spark, sf):
    """REAL PDF text extraction under the oracle gate (ISO 32000
    subset) — PDF corpora are a standard pretraining source, and the
    text layer is pure structure: each document synthesizes a
    multi-page PDF (1 + doc_id%3 pages) with a REAL xref table,
    object graph (catalog → pages tree → page → FlateDecode'd
    content stream), Tj on even pages and kerned TJ arrays on odd
    ones, and parentheses IN the text so string escaping is
    exercised; `formats.pdf_texts` walks startxref → xref offsets →
    trailer /Root → /Kids order → /Length-sliced streams → inflate →
    text operators. The oracle regenerates per-page texts from the
    formula, so an xref-offset, stream-slice, filter, operator, or
    escape bug breaks the hash. Scale posture: PDFs parallelize by
    FILE (the xref is per-document state); the Arrow stage's unit is
    the document, digests only shuffle."""
    from memory_engine_spark.sources.formats import pdf_texts, synth_pdf

    docs = (_t(spark, sf)["documents"].select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                pages = [f"Doc {d} page {k} (sec {d % 7}) body"
                         for k in range(1 + d % 3)]
                ids.append(f"m_{d}")
                payloads.append(synth_pdf(pages))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, pdf_texts).orderBy("media_id", "page_idx")


def q175_sitemap_parse(spark, sf):
    """Sitemap XML parsing under the oracle gate (sitemaps.org —
    crawl discovery's other input next to q172's robots gate): most
    documents render a <urlset> with 1 + doc_id%3 <url> entries
    (whitespace-padded <loc>; <lastmod>/<priority> only on entries
    before the last → the last entry exercises the spec default
    priority 0.5); every 7th document
    renders a <sitemapindex> of child sitemap pointers instead —
    `crawl.parse_sitemap` must dispatch on the document kind and
    parse both shapes with the same field machinery. The oracle
    replays the entry grid + defaults, so a block-regex, trim,
    kind-dispatch, or default bug breaks the hash. Scale shape:
    scan-side explode, bounded by the spec's 50k-URL cap, zero
    shuffle."""
    from memory_engine_spark.operators import crawl

    docs = _t(spark, sf)["documents"].select("doc_id")
    d = F.col("doc_id")
    h = (d % 5).cast("string")

    def url_entry(k):
        loc = F.concat(F.lit("\n  <url><loc>  https://site"), h,
                       F.lit(".org/p"), (d % 7).cast("string"),
                       F.lit(f"/{k} </loc>"))
        lastmod = F.concat(F.lit("<lastmod>2024-0"),
                           ((d + k) % 9 + 1).cast("string"),
                           F.lit("-15</lastmod>"))
        prio = F.lit(f"<priority>0.{k + 3}</priority>")
        return F.concat(
            loc,
            F.when(F.lit(k) < (d % 3), lastmod).otherwise(F.lit("")),
            F.when(F.lit(k) < (d % 3), prio).otherwise(F.lit("")),
            F.lit("</url>"))

    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        url_entry(0),
        F.when(d % 3 >= 1, url_entry(1)).otherwise(F.lit("")),
        F.when(d % 3 >= 2, url_entry(2)).otherwise(F.lit("")),
        F.lit("\n</urlset>"))
    index = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'),
        F.lit("\n <sitemap><loc> https://site"), h,
        F.lit(".org/sitemap-a.xml </loc>"
              "<lastmod>2024-02-01</lastmod></sitemap>"),
        F.lit("<sitemap><loc>https://site"), h,
        F.lit(".org/sitemap-b.xml</loc></sitemap>\n</sitemapindex>"))
    xml = F.when(d % 7 == 0, index).otherwise(urlset)
    sm = docs.select(F.col("doc_id").alias("host"),
                     xml.alias("sitemap_xml"))
    return (crawl.parse_sitemap(sm, "sitemap_xml", "host")
            .orderBy("host", "url_idx"))


def q174_charset_decode(spark, sf):
    """Charset detection + transcoding under the oracle gate — HTTP
    bodies are NOT all UTF-8, and a pipeline that assumes so mangles
    every Latin-1 page. Each document's payload rotates through four
    real encodings: plain UTF-8 with a non-ASCII char, Latin-1 (whose
    0xE9 'é' byte is INVALID standalone UTF-8 — the detection
    trigger), BOM'd UTF-16-LE, and UTF-8-sig; `formats.
    decode_text_payloads` sniffs (BOMs first, then strict UTF-8
    validation, Latin-1 fallback — validation ORDER is the whole
    algorithm), strips the BOM, transcodes, and emits the md5 of the
    UTF-8 re-encoding. The oracle regenerates the expected decoded
    strings as SQL literals (DuckDB md5 hashes UTF-8 bytes, the same
    canonical form), so a detection-order, BOM-strip, or transcode
    bug breaks the hash."""
    from memory_engine_spark.sources.formats import decode_text_payloads

    docs = (_t(spark, sf)["documents"].select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                base = f"doc {d} café {d % 7}"
                v = d % 4
                if v == 0:
                    b = (base + " snow ☃").encode("utf-8")
                elif v == 1:
                    b = (base + " æther").encode("latin-1")
                elif v == 2:
                    b = b"\xff\xfe" + (base + " utf16").encode("utf-16-le")
                else:
                    b = b"\xef\xbb\xbf" + (base + " sig").encode("utf-8")
                ids.append(f"m_{d}")
                payloads.append(b)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, decode_text_payloads).orderBy("media_id")


def q173_gzip_members(spark, sf):
    """Multi-member gzip splitting under the oracle gate — the
    byte-level mechanism behind q170's scale claim (Common Crawl
    compresses one WARC record per gzip member so object-store range
    reads split at member boundaries; a reader that treats the file
    as ONE stream cannot parallelize). Each document synthesizes a
    (2 + doc_id%3)-member gzip whose member bodies follow a
    deterministic formula; `formats.gzip_members` walks the actual
    bytes — fresh inflate per member, `unused_data` handoff, eof +
    trailing-garbage validation — and emits per-member digests. The
    oracle regenerates the facts from the formula, so a member-
    boundary or inflate-state bug breaks the hash. Compressed bytes
    are never hashed (compressor output is environment-specific);
    the DECODED side is what correctness means."""
    from memory_engine_spark.sources.formats import gzip_members

    docs = (_t(spark, sf)["documents"].select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                blob = b""
                for k in range(2 + d % 3):
                    o = zlib.compressobj(6, zlib.DEFLATED, 31)
                    body = f"doc {d} member {k} {txt}".encode()
                    blob += o.compress(body) + o.flush()
                ids.append(f"m_{d}")
                payloads.append(blob)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, gzip_members).orderBy("media_id", "member_idx")


def q172_robots_gate(spark, sf):
    """robots.txt evaluation under the oracle gate (RFC 9309 — the
    crawl frontier's fetch gate): five hosts carry synthetic robots
    files (multi-agent groups with comments, Allow/Disallow incl. a
    '*.log$' wildcard rule, a catch-all '*' group that must NOT
    apply when the exact 'sparkbot' group exists, and one star-only
    host); each document contributes a (host, path) URL hitting a
    different precedence case. `crawl.parse_robots` +
    `crawl.robots_allowed` run the whole evaluator relationally —
    line explode, window-based group formation, rule→regex
    translation, broadcast join, longest-rule-octets max_by with
    Allow winning ties — and the ORACLE replays every one of those
    steps in SQL, so a group-scoping, precedence, anchor, or escape
    bug breaks the hash. Scale shape: rules broadcast (robots are
    ≤500 KiB/host by spec); the URL side is one broadcast join +
    one groupBy — no windows on the big side."""
    from memory_engine_spark.operators import crawl

    docs = _t(spark, sf)["documents"].select("doc_id")
    d = F.col("doc_id")
    h = (d % 5).cast("string")
    host = F.concat(F.lit("site"), h, F.lit(".org"))
    path = (F.when(d % 6 == 0,
                   F.concat(F.lit("/h"), h, F.lit("/private/x")))
            .when(d % 6 == 1,
                  F.concat(F.lit("/h"), h, F.lit("/private/ok/p")))
            .when(d % 6 == 2,
                  F.concat(F.lit("/pub/p"), (d % 7).cast("string")))
            .when(d % 6 == 3,
                  F.concat(F.lit("/logs/a"), (d % 3).cast("string"),
                           F.lit(".log")))
            .when(d % 6 == 4, F.lit("/logs/b.log.bak"))
            .otherwise(F.concat(F.lit("/h"), h, F.lit("/private"))))
    urls = docs.select("doc_id", host.alias("host"), path.alias("path"))
    i = F.col("id").cast("string")
    hosts = spark.range(5).select(
        F.concat(F.lit("site"), i, F.lit(".org")).alias("host"),
        F.when(F.col("id") < 4, F.concat(
            F.lit("# policy\nUser-agent: SparkBot\n"
                  "User-agent: helper\n"),
            F.lit("Disallow: /h"), i, F.lit("/private\n"),
            F.lit("Allow: /h"), i, F.lit("/private/ok\n"),
            F.lit("Disallow: /logs/*.log$\n\n"
                  "User-agent: *\nDisallow: /\n")))
        .otherwise(F.lit("User-agent: *\nDisallow: /logs\n"))
        .alias("robots_txt"))
    robots = crawl.parse_robots(hosts)
    out = crawl.robots_allowed(urls, robots, agent="sparkbot")
    return (out.select("doc_id", "host", "path", "allowed",
                       "matched_rule")
            .orderBy("doc_id"))


def q171_url_normalize(spark, sf):
    """URL canonicalization under the oracle gate — the crawl-dedup
    prerequisite (the same page arrives as scheme/host case variants,
    default ports, fragments, tracking params, shuffled query order;
    URL-dedup without canonicalization undercounts badly). Each
    document renders a deliberately-messy URL (upper-case scheme and
    host, rotating :80/:443/:8080/empty ports, empty-vs-real paths,
    utm_/fbclid tracking params, fragment); `text.url_normalize`
    lowers scheme+host, strips only the MATCHING default port, drops
    fragment + trackers, sorts surviving params, and maps the empty
    path to '/'. Pure Column expressions in the Java∩RE2 subset —
    the oracle replays every step. Scale shape: scan-side projection,
    no shuffle at all; at 100 TB this runs inside the WARC scan."""
    from memory_engine_spark.operators.text import url_host, url_normalize

    docs = _t(spark, sf)["documents"].select("doc_id")
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, "HTTP").otherwise("https")
    port = (F.when(d % 4 == 0, ":80").when(d % 4 == 1, ":443")
            .when(d % 4 == 2, ":8080").otherwise(""))
    path = F.when(d % 3 == 0, "").otherwise(
        F.concat(F.lit("/Cat"), (d % 7).cast("string"), F.lit("/item")))
    query = F.concat(
        F.lit("?utm_source=feed&b="), (d % 3).cast("string"),
        F.lit("&a=1"),
        F.when(d % 2 == 0, "&fbclid=XYZ").otherwise(F.lit("")))
    url = F.concat(scheme, F.lit("://WWW.Site"), (d % 5).cast("string"),
                   F.lit(".ORG"), port, path, query,
                   F.lit("#sec"), (d % 4).cast("string"))
    return (docs.select(
        "doc_id", url_normalize(url).alias("url_norm"),
        url_host(url).alias("host"))
        .orderBy("doc_id"))


def q170_warc_parse(spark, sf):
    """REAL WARC (ISO 28500) record parsing under the oracle gate —
    the Common Crawl container every web-corpus pipeline starts
    from. Each document synthesizes a 3-record WARC file (warcinfo,
    request, response) whose response body DELIBERATELY contains
    CRLF CRLF — a parser that splits records on blank lines instead
    of honoring Content-Length framing truncates it and breaks the
    md5. `formats.warc_records` walks the actual bytes (version
    line, header block, Content-Length slice, record separator,
    HTTP status/header parse inside response blocks) and emits
    per-record facts; body bytes never leave the executor — only
    length + digest shuffle. The oracle regenerates the facts from
    the template. Scale posture: Common Crawl gzips one member per
    record so object-store range reads split cleanly; the Arrow
    stage's unit is the file/member, no cross-record state."""
    from memory_engine_spark.sources.formats import (synth_warc,
                                                     warc_records)

    docs = (_t(spark, sf)["documents"].select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                body = f"doc:{txt}\r\n\r\ntail".encode()
                http = (b"HTTP/1.1 200 OK\r\n"
                        b"Content-Type: text/html\r\n"
                        b"Content-Length: %d\r\n\r\n" % len(body)
                        + body)
                uri = f"http://ex.org/doc/{d}"
                ids.append(f"m_{d}")
                payloads.append(synth_warc([
                    {"warc_type": "warcinfo",
                     "block": b"software: spark-graft\r\n"},
                    {"warc_type": "request", "uri": uri,
                     "block": b"GET / HTTP/1.1\r\nHost: ex.org\r\n\r\n"},
                    {"warc_type": "response", "uri": uri,
                     "block": http}]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return multimodal.fuse_synth_stage(docs, synth, warc_records).orderBy("media_id", "rec_idx")


def q168_ivf_append_probe(spark, sf):
    """Incremental IVF index maintenance under the oracle gate
    (Milvus insert-then-search parity, milvus_store.py:112-140 —
    production vector stores take inserts WITHOUT rebuilding): the
    embeddings table splits into a base corpus and a delta batch
    (vec_id ≥ 16 with vec_id % 10 == 7); the index is built on base
    only (frozen first-16 centroids — ids 0-15 are all in base, so
    they equal a full build's seeds), the delta is APPENDED via
    `similarity.ivf_append` (per-row assignment against frozen
    centroids; at scale: new parquet files per cell partition, no
    rewrite), and the probe (qv = vec 5, k=12, nprobe=4) runs over
    base ∪ delta. The ORACLE builds the index over the FULL table in
    one shot — for IVF-FLAT with frozen centroids append ≡ rebuild
    exactly, and the byte-exact hash IS that equivalence proof."""
    emb = _t(spark, sf)["embeddings"]
    is_delta = (F.col("vec_id") >= 16) & (F.col("vec_id") % 10 == 7)
    cents, base_assigned = similarity.build_ivf_flat(
        emb.filter(~is_delta), nlist=16, id_col="vec_id")
    full = similarity.ivf_append(base_assigned, cents,
                                 emb.filter(is_delta), id_col="vec_id")
    qv = [float(x) for x in
          emb.filter("vec_id = 5").first()["embedding"]]
    return (similarity.topk_ivf(full, cents, qv, k=12, nprobe=4,
                                id_col="vec_id")
            .select("vec_id", F.round("score", 6).alias("score")))


def q157_bmp_gif_pixels(spark, sf):
    """REAL BMP + GIF pixel decode under the oracle gate (closes the
    image-format set q156 opened: PNG/BMP/GIF all have
    dependency-free decoders now; JPEG alone stays a stand-in). Each
    document synthesizes BOTH a spec-complete 24-bit bottom-up BMP
    (4-byte row padding) and a single-frame GIF89a whose pixel
    indices run through a REAL pure-Python LZW encode
    (multimodal.synth_bmp / synth_gif); multimodal.image_pixel_stats
    then WALKS THE BYTES — BGR de-swizzle + row un-padding for BMP,
    sub-block reassembly + variable-width LZW + palette lookup for
    GIF — into exact int64 per-channel sums. The oracle recomputes
    both from the formulas, so a padding, byte-order, bit-packing, or
    LZW-table bug anywhere breaks the hash. (Encode/decode pairs are
    additionally pinned by an encoder-independent hand-assembled GIF
    byte vector in tests.)"""
    from memory_engine_spark.operators import multimodal

    docs = _media_docs(spark, sf)

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                # BMP: direct-pixel formula
                w, h = 4 + (d % 5) * 2, 3 + (d % 3) * 2
                r = np.arange(h).reshape(h, 1, 1)
                c = np.arange(w).reshape(1, w, 1)
                ch = np.arange(3).reshape(1, 1, 3)
                px = ((d * 13 + r * 11 + c * 3 + ch * 7) % 256) \
                    .astype(np.uint8)
                ids.append(f"bmp_{d}")
                payloads.append(multimodal.synth_bmp(px))
                # GIF: 8-color palette + index formula
                gw, gh = 6 + (d % 4) * 2, 4 + (d % 2) * 3
                pal = ((d * 17 + np.arange(8).reshape(8, 1) * 29
                        + np.arange(3).reshape(1, 3) * 5) % 256) \
                    .astype(np.uint8)
                gr = np.arange(gh).reshape(gh, 1)
                gc = np.arange(gw).reshape(1, gw)
                idx = ((d + gr * 5 + gc) % 8).astype(np.uint8)
                ids.append(f"gif_{d}")
                payloads.append(multimodal.synth_gif(idx, pal))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    stats = multimodal.fuse_synth_stage(
        docs, synth, multimodal.image_pixel_stats)
    return (stats.select(
        "media_id", "width", "height", "channels",
        *[F.col("csum")[i].alias(f"s{i}") for i in range(3)],
        *[F.col("csqsum")[i].alias(f"q{i}") for i in range(3)])
        .orderBy("media_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration ORDER is deliberate: the driver's correctness gate
    # checks the first ~50 registry entries, so the NEWEST operator
    # wave (round 5: q111+, then rounds 3-4: q84–q110) registers
    # first, then round 2's wave (q51–q83, driver-proven in r02/r03),
    # then q01–q50 (rounds 1–2). tools/oracle_check.py still runs
    # every entry regardless of order.
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "q111_khop_paths": q111_khop_paths,
        "q112_pattern_match": q112_pattern_match,
        "q113_diverse_page": q113_diverse_page,
        "q114_beam_search": q114_beam_search,
        "q115_media_features": q115_media_features,
        "q116_export_roundtrip": q116_export_roundtrip,
        "q117_session_windows": q117_session_windows,
        "q118_versioned_state": q118_versioned_state,
        "q119_backup_restore": q119_backup_restore,
        "q120_format_roundtrip": q120_format_roundtrip,
        "q121_nlq_pipeline": q121_nlq_pipeline,
        "q122_metadata_merge": q122_metadata_merge,
        "q123_stream_tumbling": q123_stream_tumbling,
        "q124_stream_hll": q124_stream_hll,
        "q125_stream_interval_join": q125_stream_interval_join,
        "q126_shipping_priority": q126_shipping_priority,
        "q127_large_orders": q127_large_orders,
        "q128_filter_matrix": q128_filter_matrix,
        "q129_auto_relationships": q129_auto_relationships,
        "q130_merge_nodes": q130_merge_nodes,
        "q131_ranking_components": q131_ranking_components,
        "q132_event_throttle": q132_event_throttle,
        "q133_having_prefilter": q133_having_prefilter,
        "q134_metric_conversions": q134_metric_conversions,
        "q135_pubsub_replay": q135_pubsub_replay,
        "q136_task_queue": q136_task_queue,
        "q137_hash_embeddings": q137_hash_embeddings,
        "q138_bpe_merges": q138_bpe_merges,
        "q139_subgraph_export": q139_subgraph_export,
        "q140_migrate_verify": q140_migrate_verify,
        "q141_synthesis_modes": q141_synthesis_modes,
        "q142_export_formats": q142_export_formats,
        "q143_import_merge": q143_import_merge,
        "q144_chunked_results": q144_chunked_results,
        "q145_vector_store_crud": q145_vector_store_crud,
        "q146_skew_tools": q146_skew_tools,
        "q147_bpe_encode": q147_bpe_encode,
        "q148_hnsw_search": q148_hnsw_search,
        "q149_corpus_pipeline": q149_corpus_pipeline,
        "q150_quality_probe": q150_quality_probe,
        "q151_stream_dedup": q151_stream_dedup,
        "q152_int8_ann": q152_int8_ann,
        "q153_dlq_lifecycle": q153_dlq_lifecycle,
        "q154_perspective_report": q154_perspective_report,
        "q155_audio_features": q155_audio_features,
        "q156_png_pixels": q156_png_pixels,
        "q157_bmp_gif_pixels": q157_bmp_gif_pixels,
        "q158_ivf_int8_ann": q158_ivf_int8_ann,
        "q159_g711_audio": q159_g711_audio,
        "q160_avi_frame_sample": q160_avi_frame_sample,
        "q161_ima_adpcm_audio": q161_ima_adpcm_audio,
        "q162_jpeg_pixels": q162_jpeg_pixels,
        "q163_jpeg_color": q163_jpeg_color,
        "q164_jpeg_420": q164_jpeg_420,
        "q165_mp4_frame_sample": q165_mp4_frame_sample,
        "q166_flac_audio": q166_flac_audio,
        "q167_flac_stereo": q167_flac_stereo,
        "q168_ivf_append_probe": q168_ivf_append_probe,
        "q169_html_extract": q169_html_extract,
        "q170_warc_parse": q170_warc_parse,
        "q171_url_normalize": q171_url_normalize,
        "q172_robots_gate": q172_robots_gate,
        "q173_gzip_members": q173_gzip_members,
        "q174_charset_decode": q174_charset_decode,
        "q175_sitemap_parse": q175_sitemap_parse,
        "q176_pdf_text": q176_pdf_text,
        "q177_span_corruption": q177_span_corruption,
        "q178_chat_render": q178_chat_render,
        "q179_tiff_pixels": q179_tiff_pixels,
        "q180_bleu_eval": q180_bleu_eval,
        "q181_tar_entries": q181_tar_entries,
        "q182_zip_entries": q182_zip_entries,
        "q183_tfrecord_entries": q183_tfrecord_entries,
        "q184_parquet_footer": q184_parquet_footer,
        "q185_avro_container": q185_avro_container,
        "q186_rouge_eval": q186_rouge_eval,
        "q187_ir_eval": q187_ir_eval,
        "q188_delta_snapshot": q188_delta_snapshot,
        "q189_orc_footer": q189_orc_footer,
        "q190_parquet_column_decode": q190_parquet_column_decode,
        "q191_chrf_eval": q191_chrf_eval,
        "q192_calibration": q192_calibration,
        "q193_bootstrap_ci": q193_bootstrap_ci,
        "q194_graph_stats": q194_graph_stats,
        "q195_schema_drift": q195_schema_drift,
        "q196_delta_time_travel": q196_delta_time_travel,
        "q197_compaction_plan": q197_compaction_plan,
        "q198_zonemap_audit": q198_zonemap_audit,
        "q199_min_cost_supplier": q199_min_cost_supplier,
        "q200_market_share": q200_market_share,
        "q201_late_shipment_priority": q201_late_shipment_priority,
        "q202_incremental_agg": q202_incremental_agg,
        "q203_bitmap_intersections": q203_bitmap_intersections,
        "q204_inverted_index": q204_inverted_index,
        "q205_ab_test": q205_ab_test,
        "q206_event_bigrams": q206_event_bigrams,
        "q207_preference_pairs": q207_preference_pairs,
        "q208_waiting_suppliers": q208_waiting_suppliers,
        "q209_untapped_customers": q209_untapped_customers,
        "q210_ogg_packets": q210_ogg_packets,
        "q211_small_quantity_revenue": q211_small_quantity_revenue,
        "q212_important_parts": q212_important_parts,
        "q213_split_leakage": q213_split_leakage,
        "q214_column_profile": q214_column_profile,
        "q215_attribution": q215_attribution,
        "q216_lz4_frames": q216_lz4_frames,
        "q217_stream_static_enrich": q217_stream_static_enrich,
        "q218_merge_into": q218_merge_into,
        "q219_bounded_scc": q219_bounded_scc,
        "q220_snapshot_diff": q220_snapshot_diff,
        "q221_unicode_nfc": q221_unicode_nfc,
        "q222_excess_stock_suppliers": q222_excess_stock_suppliers,
        "q223_order_count_distribution": q223_order_count_distribution,
        "q224_mkv_blocks": q224_mkv_blocks,
        "q225_minhash_leakage": q225_minhash_leakage,
        "q226_top_revenue_supplier": q226_top_revenue_supplier,
        "q227_supplier_part_counts": q227_supplier_part_counts,
        "q228_kmeans_refine": q228_kmeans_refine,
        "q229_disjunctive_revenue": q229_disjunctive_revenue,
        "q230_returned_item_ranking": q230_returned_item_ranking,
        "q231_forecast_revenue_change": q231_forecast_revenue_change,
        "q232_nation_volume_shipping": q232_nation_volume_shipping,
        "q233_product_type_profit": q233_product_type_profit,
        "q234_shipmode_priority": q234_shipmode_priority,
        "q235_promo_revenue_share": q235_promo_revenue_share,
        "q236_stream_outer_join": q236_stream_outer_join,
        "q237_dpp_monthly_revenue": q237_dpp_monthly_revenue,
        "q238_cube_pricing": q238_cube_pricing,
        "q239_rollup_order_hierarchy": q239_rollup_order_hierarchy,
        "q240_window_battery": q240_window_battery,
        "q241_multiset_ops": q241_multiset_ops,
        "q242_scc_label_merge": q242_scc_label_merge,
        "q243_scc_exhaustive_peel": q243_scc_exhaustive_peel,
        "q244_parquet_string_decode": q244_parquet_string_decode,
        "q245_parquet_delta_decode": q245_parquet_delta_decode,
        "q246_parquet_codec_decode": q246_parquet_codec_decode,
        "q107_enhancement_plan": q107_enhancement_plan,
        "q108_ccnet_buckets": q108_ccnet_buckets,
        "q109_rrf_fusion": q109_rrf_fusion,
        "q110_temperature_mixture": q110_temperature_mixture,
        "q84_line_dedup": q84_line_dedup,
        "q85_semdedup": q85_semdedup,
        "q86_dsir_weights": q86_dsir_weights,
        "q87_substring_dedup": q87_substring_dedup,
        "q88_lm_perplexity": q88_lm_perplexity,
        "q89_bloom_membership": q89_bloom_membership,
        "q90_label_propagation": q90_label_propagation,
        "q91_hdr_quantiles": q91_hdr_quantiles,
        "q92_fuzzy_terms": q92_fuzzy_terms,
        "q93_zorder_cells": q93_zorder_cells,
        "q94_resample_ffill": q94_resample_ffill,
        "q95_kcore": q95_kcore,
        "q96_weighted_sssp": q96_weighted_sssp,
        "q97_personalized_pagerank": q97_personalized_pagerank,
        "q98_hits": q98_hits,
        "q99_stratified_quota_sample": q99_stratified_quota_sample,
        "q100_tfidf_search": q100_tfidf_search,
        "q101_random_walks": q101_random_walks,
        "q102_funnel": q102_funnel,
        "q103_cohort_retention": q103_cohort_retention,
        "q104_diameter": q104_diameter,
        "q105_rolling_zscore": q105_rolling_zscore,
        "q106_adamic_adar": q106_adamic_adar,
        "q51_qa_confidence": q51_qa_confidence,
        "q52_contradiction_resolution": q52_contradiction_resolution,
        "q53_perspective_types": q53_perspective_types,
        "q54_quality_content_dimension": q54_quality_content_dimension,
        "q55_quality_structural_dimension": q55_quality_structural_dimension,
        "q56_gopher_filter": q56_gopher_filter,
        "q57_repetition_stats": q57_repetition_stats,
        "q58_decontamination": q58_decontamination,
        "q59_sessionize": q59_sessionize,
        "q60_asof_join": q60_asof_join,
        "q61_range_join": q61_range_join,
        "q62_rollup_cascade": q62_rollup_cascade,
        "q63_bm25": q63_bm25,
        "q64_pii_redaction": q64_pii_redaction,
        "q65_hash_split": q65_hash_split,
        "q66_dedup_clusters": q66_dedup_clusters,
        "q67_knn_join": q67_knn_join,
        "q68_stratified_sample": q68_stratified_sample,
        "q69_pack_sequences": q69_pack_sequences,
        "q70_vocabulary": q70_vocabulary,
        "q71_quantize_int8": q71_quantize_int8,
        "q72_chunk_tokens": q72_chunk_tokens,
        "q73_pq_topk": q73_pq_topk,
        "q74_pagerank": q74_pagerank,
        "q75_ivfpq_topk": q75_ivfpq_topk,
        "q76_revenue_by_nation": q76_revenue_by_nation,
        "q77_hll_distinct": q77_hll_distinct,
        "q78_cms_heavy_hitters": q78_cms_heavy_hitters,
        "q79_triangles": q79_triangles,
        "q80_weighted_sample": q80_weighted_sample,
        "q81_jaccard_capped": q81_jaccard_capped,
        "q82_content_gaps": q82_content_gaps,
        "q83_depth_gaps": q83_depth_gaps,
    }
    out.update(_legacy_queries())
    # Driver-proof ROTATION (r05 VERDICT item 8): the driver samples the
    # first ~50 registry entries, so without rotation q01–q83 never get
    # a fresh driver proof (last one: r02/r03). r07's 52 new queries
    # overflowed the window and crowded out both the stale tranche AND
    # q206/q207 — so r08's front (per the r07 verdict, item 2) is:
    # (1) the two r07 queries that never got a driver proof, (2) the
    # STALE tranche q17–q50 + q61–q83 (last proof r02/r03), (3) only
    # then this round's new queries (q208+) and the rest. The stale
    # tranche is 57 entries — the overflow rolls into r09's front.
    # r09 front landed q75–q83 + q208–q221 + q222–q241: the union of
    # CORRECTNESS_r01–r09 now covers every registered query at least
    # once, so freshness is the only driver-signal dimension left.
    # r10 front re-proved q84–q110 + q132–q152 (+ new q242) — 50/50
    # green. r11 front re-proved q243 (new) + the 43 r6-proven
    # entries (q01–q16, q51–q60, q118–q131, q153–q155) + q156–q161;
    # q162 rolled here (strict-50 window). r12 front (r11 verdict
    # item 1): NEVER-driver-proven first (any q244+ added this
    # round), then the r7-proven tranche q162–q205 — 44 entries, the
    # stalest in the CORRECTNESS_r01–r11 union, and exactly the
    # multimodal/crawl/eval/format queries whose code paths four
    # rounds of parser churn (TAR, PNG, MKV, lacing) touched.
    # Next-stalest for r13: the r8-proven tranche q17–q50 + q61–q83.
    # r13 front (r12 verdict item 2): q17–q22 got their fresh proof in
    # r12's fill, so the stalest-remaining r8-proven tranche is
    # q23–q50 + q61–q83 — 51 entries; strict-50 window per the r11
    # precedent, so q83 rolled to r14. r14 front (r13 verdict item 1):
    # NEVER-driver-proven first (q244 + q245, this round's two
    # named-gap entries), then q83 (stalest, last proof r09) + the
    # r10-proven tranche q84–q110 + q132–q152 — 2 + 49 = 51, so the
    # strict-50 window rolls ONE entry to r15 (the r11/r13
    # precedent): q99, the lexicographic tail of the stale slice.
    # r15 front (r14 verdict item 2 — the rotation comment that
    # stood here was WRONG; the CORRECTNESS_r01–r14 union, recomputed
    # this round, says the stalest driver proofs are): NEVER-driver-
    # proven first (any q246+ added this round), then q206/q207
    # (last proof r8), the 40 r9-proven entries (q112–q117 +
    # q208–q241), q99/q111/q242 (r10) — 45 — filled to the strict-50
    # window with the five numerically-first r11-proven entries
    # q01–q05; new-this-round arrivals displace the fill tail.
    # Next-stalest for r16: the remaining r11-proven tranche
    # q06–q16 + q51–q60 + q118–q131 + q153–q161 + q243 (45 entries)
    # + whatever the fill left unproven here.
    # r17 front (r16 verdict item 7 — r16 re-ran the r15 set
    # verbatim, so the rotation is recomputed from the
    # CORRECTNESS_r01–r16 union): NEVER-driver-proven first (any
    # q247+ added this round — none), then the full r11-proven
    # tranche — q05–q16, q51–q60, q118–q131, q153–q161, q243
    # (46 entries, the stalest on file) — filled to the strict-50
    # window with the four numerically-first r12-proven entries
    # q162–q165. Next-stalest for r18: the remaining r12-proven
    # tranche q166–q175 + whatever this fill leaves.
    r17_priority = ([f"q{i:02d}" for i in range(5, 17)]
                    + [f"q{i}" for i in range(51, 61)]
                    + [f"q{i}" for i in range(118, 132)]
                    + [f"q{i}" for i in range(153, 162)]
                    + ["q243"]
                    + ["q162", "q163", "q164", "q165"])
    new_this_round = [n for n in sorted(out)
                      if n.split("_")[0].lstrip("q").isdigit()
                      and int(n.split("_")[0].lstrip("q")) >= 247]
    by_num = {n.split("_")[0]: n for n in out}
    front = (new_this_round
             + [by_num[p] for p in r17_priority if p in by_num])[:50]
    rotated: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        n: out[n] for n in front}
    for n, fn in out.items():
        rotated.setdefault(n, fn)
    return rotated


def _legacy_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_filter_sort_page": q01_filter_sort_page,
        "q02_filter_ops": q02_filter_ops,
        "q03_pricing_summary": q03_pricing_summary,
        "q04_group_key": q04_group_key,
        "q05_doc_coverage": q05_doc_coverage,
        "q06_monthly_events": q06_monthly_events,
        "q07_outliers_iqr": q07_outliers_iqr,
        "q08_neighbors": q08_neighbors,
        "q09_khop": q09_khop,
        "q10_degree_hubs": q10_degree_hubs,
        "q11_temporal_pairs": q11_temporal_pairs,
        "q12_dedup_exact": q12_dedup_exact,
        "q13_jaccard_pairs": q13_jaccard_pairs,
        "q14_minhash_neardup": q14_minhash_neardup,
        "q15_simhash_neardup": q15_simhash_neardup,
        "q16_knn_cosine": q16_knn_cosine,
        "q17_embedding_neardup": q17_embedding_neardup,
        "q18_text_stats": q18_text_stats,
        "q19_lang_id": q19_lang_id,
        "q20_rating_update": q20_rating_update,
        "q21_search_ranking": q21_search_ranking,
        "q22_top_orders_per_cust": q22_top_orders_per_cust,
        "q23_shortest_path": q23_shortest_path,
        "q24_induced_subgraph": q24_induced_subgraph,
        "q25_same_source_pairs": q25_same_source_pairs,
        "q26_similar_tags": q26_similar_tags,
        "q27_term_cooccurrence": q27_term_cooccurrence,
        "q28_daily_trend": q28_daily_trend,
        "q29_sudden_changes": q29_sudden_changes,
        "q30_bursts": q30_bursts,
        "q31_gaps": q31_gaps,
        "q32_contradictions": q32_contradictions,
        "q33_extract_units": q33_extract_units,
        "q34_quality_histogram": q34_quality_histogram,
        "q35_components": q35_components,
        "q36_ivf_knn": q36_ivf_knn,
        "q37_source_reliability": q37_source_reliability,
        "q38_cross_validate": q38_cross_validate,
        "q39_relationship_metrics": q39_relationship_metrics,
        "q40_rating_correlations": q40_rating_correlations,
        "q41_semantic_suggestions": q41_semantic_suggestions,
        "q42_autocorrelation": q42_autocorrelation,
        "q43_behavioral_anomalies": q43_behavioral_anomalies,
        "q44_date_range": q44_date_range,
        "q45_simhash32": q45_simhash32,
        "q46_passage_overlap": q46_passage_overlap,
        "q47_merge_semantics": q47_merge_semantics,
        "q48_content_scan": q48_content_scan,
        "q49_relation_chains": q49_relation_chains,
        "q50_qa_evidence": q50_qa_evidence,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q03_pricing_summary(spark, SF0001)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + "]"
# SQL-escaped copy of the shared ASCII punctuation class
_PUNCT_SQL = text.PUNCT_CLASS.replace("'", "''")
_NEG_SQL = "[" + ", ".join(f"'{m}'" for m in synthesis.NEGATION_MARKERS) + "]"


def _lang_scores_sql() -> str:
    parts = []
    for lang in sorted(text.LANG_MARKERS):
        markers = "[" + ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang]) + "]"
        parts.append(
            "{'neg': -len(list_filter(toks, t -> list_contains(%s, t))), 'lang': '%s'}"
            % (markers, lang)
        )
    return "[" + ", ".join(parts) + "]"


def _qa_rel_sql(keywords: list[str]) -> str:
    """DuckDB replica of operators/ranking.relevance_score for a fixed
    keyword set: word-Jaccard × 2 capped at 1, rounded to 6 — the same
    expression q21's oracle uses."""
    kw = "[" + ", ".join(f"'{k}'" for k in sorted(set(keywords))) + "]"
    return f"""ROUND(LEAST(2.0 * (
        len(list_intersect(list_distinct(toks), {kw}))::DOUBLE
        / len(list_distinct(list_concat(list_distinct(toks),
              list_filter({kw}, x -> NOT list_contains(list_distinct(toks), x)))))
    ), 1.0), 6)"""


def oracle_sql() -> dict[str, str]:
    sql = {
        "q01_filter_sort_page": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000.0 AND 50000.0
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 20 OFFSET 5
        """,
        "q02_filter_ops": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
              AND contains(c_name, '1') AND c_acctbal >= 0.0
              AND ends_with(c_name, '5')
        """,
        "q03_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q04_group_key": """
            SELECT COALESCE(CAST(o_orderstatus AS VARCHAR), 'null') || '|' ||
                   COALESCE(CAST(o_orderpriority AS VARCHAR), 'null') AS group_key,
                   COUNT(*) AS group_count
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        """,
        "q05_doc_coverage": """
            SELECT source, COUNT(*) AS n_docs, MIN(n_chars) AS min_len,
                   MAX(n_chars) AS max_len, ROUND(AVG(n_chars), 4) AS avg_len
            FROM documents GROUP BY source
        """,
        "q06_monthly_events": """
            SELECT strftime(ts, '%Y-%m') AS month, event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "q07_outliers_iqr": """
            WITH q AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                              quantile_cont(o_totalprice, 0.75) AS q3 FROM orders)
            SELECT o_orderkey FROM orders, q
            WHERE o_totalprice < q1 - 1.5 * (q3 - q1)
               OR o_totalprice > q3 + 1.5 * (q3 - q1)
        """,
        "q08_neighbors": f"""
            WITH {EDGES_CTE}
            SELECT DISTINCT 'n_5' AS node_id, to_id AS neighbor_id, relation_type
            FROM edges_sym WHERE from_id = 'n_5'
        """,
        "q09_khop": f"""
            WITH RECURSIVE {EDGES_CTE},
            bfs(node_id, d) AS (
                SELECT 'c_1', 0
                UNION
                SELECT e.to_id, b.d + 1
                FROM bfs b JOIN edges_sym e ON e.from_id = b.node_id
                WHERE b.d < 3
            )
            SELECT node_id, CAST(MIN(d) AS INTEGER) AS hop_distance
            FROM bfs GROUP BY node_id
        """,
        "q10_degree_hubs": f"""
            WITH {EDGES_CTE},
            outd AS (SELECT from_id AS node_id, COUNT(*) AS out_degree
                     FROM edges GROUP BY 1),
            ind AS (SELECT to_id AS node_id, COUNT(*) AS in_degree
                    FROM edges GROUP BY 1)
            SELECT COALESCE(outd.node_id, ind.node_id) AS node_id,
                   COALESCE(out_degree, 0) AS out_degree,
                   COALESCE(in_degree, 0) AS in_degree,
                   COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS degree
            FROM outd FULL OUTER JOIN ind ON outd.node_id = ind.node_id
            ORDER BY degree DESC, node_id ASC LIMIT 20
        """,
        "q11_temporal_pairs": """
            SELECT a.event_id AS event_a, b.event_id AS event_b,
                   ROUND(GREATEST(0.5,
                         1.0 - (ABS(epoch_us(a.ts) - epoch_us(b.ts)) / 1000000.0)
                               / 3600.0), 6) AS confidence
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
            WHERE ABS(epoch_us(a.ts) - epoch_us(b.ts)) / 1000000.0 < 3600.0
        """,
        "q12_dedup_exact": """
            SELECT md5(trim(regexp_replace(lower(p_type), '\\s+', ' ', 'g')))
                       AS content_hash,
                   COUNT(*) AS n_dups, MIN(p_partkey) AS keep_id
            FROM part
            GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "q13_jaccard_pairs": f"""
            WITH {TOKS_CTE},
            sh AS (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                                   i -> array_to_string(toks[i+1:i+3], ' '))
                )) AS shingle
                FROM toks_t
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            common AS (
                SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a, b, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
            WHERE c / (sa.sz + sb.sz - c) >= 0.3
        """,
        "q14_minhash_neardup": f"""
            WITH {TOKS_CTE},
            sh AS (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                                   i -> array_to_string(toks[i+1:i+3], ' '))
                )) AS shingle
                FROM toks_t
            ),
            words AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(range(0, 8),
                            j -> (strpos('0123456789abcdef',
                                         substr(md5(shingle), j::INT + 1, 1)) - 1)
                                 * power(16, 7 - j))) AS BIGINT) AS w1,
                       CAST(list_sum(list_transform(range(0, 8),
                            j -> (strpos('0123456789abcdef',
                                         substr(md5(shingle), j::INT + 9, 1)) - 1)
                                 * power(16, 7 - j))) AS BIGINT) AS w2
                FROM sh
            ),
            sig AS (
                SELECT doc_id, i, MIN((w1 + i * w2) & 4294967295) AS h
                FROM words, range(0, 64) r(i) GROUP BY 1, 2
            ),
            banded AS (
                SELECT doc_id, i // 2 AS band,
                       string_agg(h::VARCHAR, ',' ORDER BY i) AS bk
                FROM sig GROUP BY 1, 2
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM banded x JOIN banded y
                  ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            common AS (
                SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
                FROM sh x JOIN sh y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT cand.a, cand.b,
                   ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM cand
            JOIN common ON common.a = cand.a AND common.b = cand.b
            JOIN sizes sa ON sa.doc_id = cand.a
            JOIN sizes sb ON sb.doc_id = cand.b
            WHERE c / (sa.sz + sb.sz - c) >= 0.3
        """,
        "q15_simhash_neardup": f"""
            WITH {TOKS_CTE},
            tok AS (SELECT doc_id, unnest(toks) AS t FROM toks_t),
            hashed AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(range(0, 8),
                            j -> (strpos('0123456789abcdef',
                                         substr(md5(t), j::INT + 1, 1)) - 1)
                                 * power(16, 7 - j))) AS BIGINT) AS hl,
                       CAST(list_sum(list_transform(range(0, 8),
                            j -> (strpos('0123456789abcdef',
                                         substr(md5(t), j::INT + 9, 1)) - 1)
                                 * power(16, 7 - j))) AS BIGINT) AS hh
                FROM tok
            ),
            bits AS (
                SELECT doc_id, b,
                       SUM(CASE WHEN (hl >> b::INT) & 1 = 1 THEN 1 ELSE -1 END) AS sl,
                       SUM(CASE WHEN (hh >> b::INT) & 1 = 1 THEN 1 ELSE -1 END) AS sg
                FROM hashed, range(0, 32) r(b) GROUP BY 1, 2
            ),
            packed AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN sl > 0 THEN power(2, b) ELSE 0 END)
                            AS BIGINT) AS lo,
                       CAST(SUM(CASE WHEN sg > 0 THEN power(2, b) ELSE 0 END)
                            AS BIGINT) AS hi
                FROM bits GROUP BY 1
            ),
            chunks AS (
                SELECT doc_id, lo, hi, ci,
                       CASE WHEN ci < 4 THEN (lo >> (ci * 8)::INT) & 255
                            ELSE (hi >> ((ci - 4) * 8)::INT) & 255 END AS cv
                FROM packed, range(0, 8) c(ci)
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                       bit_count(xor(x.lo, y.lo))
                       + bit_count(xor(x.hi, y.hi)) AS hamming
                FROM chunks x JOIN chunks y
                  ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
            )
            SELECT a, b, CAST(hamming AS BIGINT) AS hamming
            FROM cand WHERE hamming <= 6
        """,
        "q16_knn_cosine": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS score
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id ASC
            LIMIT 10
        """,
        "q17_embedding_neardup": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        """,
        "q18_text_stats": f"""
            WITH {TOKS_CTE}
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_regex_tokens,
                   ROUND(CASE WHEN len(toks) = 0 THEN 0.0
                         ELSE list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
                         END, 6) AS avg_word_len,
                   ROUND(CASE WHEN len(text) = 0 THEN 0.0
                         ELSE (len(text) - len(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))::DOUBLE
                              / len(text) END, 6) AS punct_ratio,
                   ROUND(CASE WHEN len(toks) = 0 THEN 0.0
                         ELSE len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
                              / len(toks) END, 6) AS stopword_ratio,
                   ROUND(
                     0.4 * (CASE WHEN len(text) <= 0 THEN 0.0
                                 WHEN len(text) < 50 THEN len(text) / 50.0
                                 WHEN len(text) <= 500 THEN 1.0
                                 ELSE greatest(0.3, 1.0 - (len(text) - 500) / 4500.0 * 0.7) END)
                   + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                         ELSE (len(text) - len(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))::DOUBLE
                              / len(text) END)
                   + 0.3 * (1.0 - CASE WHEN len(toks) = 0 THEN 0.0
                         ELSE len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
                              / len(toks) END), 6) AS quality,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM toks_t
        """,
        "q19_lang_id": f"""
            WITH {TOKS_CTE},
            scored AS (
                SELECT doc_id, list_sort({_lang_scores_sql()})[1] AS best
                FROM toks_t
            )
            SELECT doc_id,
                   CASE WHEN best.neg = 0 THEN 'und' ELSE best.lang END AS lang_guess
            FROM scored
        """,
        "q20_rating_update": """
            SELECT user_id,
                   ROUND(LEAST(GREATEST(
                       0.5 + 0.2 * (SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
                                    / COUNT(*))
                           - 0.2 * (SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE
                                    / COUNT(*)),
                       0.0), 1.0), 6) AS new_rating
            FROM events GROUP BY user_id
        """,
        "q21_search_ranking": f"""
            WITH {TOKS_CTE},
            scored AS (
                SELECT doc_id,
                    LEAST(2.0 * (
                        len(list_intersect(list_distinct(toks),
                                           ['spark', 'join', 'filter', 'stream']))::DOUBLE
                        / len(list_distinct(list_concat(list_distinct(toks),
                              list_filter(['spark', 'join', 'filter', 'stream'],
                                          x -> NOT list_contains(list_distinct(toks), x)))))
                    ), 1.0) AS relevance,
                    (0.4 * (CASE WHEN len(text) <= 0 THEN 0.0
                                 WHEN len(text) < 50 THEN len(text) / 50.0
                                 WHEN len(text) <= 500 THEN 1.0
                                 ELSE greatest(0.3, 1.0 - (len(text) - 500) / 4500.0 * 0.7) END)
                   + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                         ELSE (len(text) - len(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))::DOUBLE
                              / len(text) END)
                   + 0.3 * (1.0 - CASE WHEN len(toks) = 0 THEN 0.0
                         ELSE len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
                              / len(toks) END)) AS quality
                FROM toks_t
            )
            SELECT doc_id,
                   ROUND(relevance * (0.4 / 0.7) + quality * (0.3 / 0.7), 6) AS score
            FROM scored
            ORDER BY relevance * (0.4 / 0.7) + quality * (0.3 / 0.7) DESC, doc_id ASC
            LIMIT 20
        """,
        "q22_top_orders_per_cust": """
            SELECT o_custkey, o_orderkey, rk FROM (
                SELECT o_custkey, o_orderkey,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders WHERE o_custkey < 100
            ) WHERE rk <= 3
        """,
        "q23_shortest_path": f"""
            WITH RECURSIVE {EDGES_CTE},
            bfs(node_id, d) AS (
                SELECT 'c_1', 0
                UNION
                SELECT e.to_id, b.d + 1
                FROM bfs b JOIN edges_sym e ON e.from_id = b.node_id
                WHERE b.d < 6
            )
            SELECT 'c_1' AS src, 'r_0' AS dst, CAST(MIN(d) AS INTEGER) AS hops
            FROM bfs WHERE node_id = 'r_0'
        """,
        "q24_induced_subgraph": f"""
            WITH {EDGES_CTE},
            sel AS (
                SELECT 'c_' || c_custkey AS node_id FROM customer WHERE c_nationkey = 0
                UNION ALL
                SELECT 'o_' || o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 0)
            )
            SELECT from_id, to_id, relation_type FROM edges
            WHERE from_id IN (SELECT node_id FROM sel)
              AND to_id IN (SELECT node_id FROM sel)
        """,
        "q25_same_source_pairs": """
            SELECT a.doc_id AS a, b.doc_id AS b,
                   'SAME_SOURCE' AS relation_type,
                   CAST(0.7 AS DOUBLE) AS confidence
            FROM documents a JOIN documents b
              ON a.source = b.source AND a.doc_id < b.doc_id
        """,
        "q26_similar_tags": """
            WITH t AS (
                SELECT doc_id, list_distinct(list_filter(
                    string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                    x -> len(x) >= 5)) AS tags
                FROM documents WHERE doc_id < 100
            ),
            ex AS (SELECT doc_id, unnest(tags) AS k FROM t),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY 1),
            c AS (
                SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
                FROM ex a JOIN ex b ON a.k = b.k AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a, b, 'SIMILAR_TAGS' AS relation_type,
                   ROUND(c / (sa.sz + sb.sz - c), 6) AS confidence
            FROM c JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
            WHERE c / (sa.sz + sb.sz - c) > 0.6
        """,
        "q27_term_cooccurrence": f"""
            WITH {TOKS_CTE},
            ex AS (
                SELECT doc_id, unnest(list_distinct(list_filter(toks,
                    x -> len(x) >= 3 AND NOT list_contains({_STOPWORDS_SQL}, x))))
                    AS term
                FROM toks_t
            )
            SELECT a.term AS t1, b.term AS t2, COUNT(*) AS n_docs
            FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.term < b.term
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        """,
        "q28_daily_trend": """
            WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS n
                       FROM events GROUP BY 1),
            i AS (SELECT n, ROW_NUMBER() OVER (ORDER BY d) - 1 AS i FROM c)
            SELECT ROUND(regr_slope(n, i), 6) AS slope,
                   ROUND((arg_max(n, i) - arg_min(n, i)) / CAST(arg_min(n, i) AS DOUBLE), 6)
                       AS growth_rate,
                   COUNT(*) AS n_periods
            FROM i
        """,
        "q29_sudden_changes": """
            WITH c AS (SELECT strftime(ts, '%Y-%m-%d %H') AS bucket, COUNT(*) AS n
                       FROM events GROUP BY 1),
            p AS (SELECT bucket, n, lag(n) OVER (ORDER BY bucket) AS prev_n FROM c)
            SELECT bucket, n, prev_n,
                   ROUND(ABS(n - prev_n) / CAST(prev_n AS DOUBLE), 6) AS change_ratio
            FROM p
            WHERE prev_n IS NOT NULL
              AND ROUND(ABS(n - prev_n) / CAST(prev_n AS DOUBLE), 6) > 0.2
        """,
        "q30_bursts": """
            SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   COUNT(*) AS n
            FROM events GROUP BY 1 HAVING COUNT(*) >= 10
        """,
        "q31_gaps": """
            WITH g AS (
                SELECT ts, epoch_us(ts) - lag(epoch_us(ts))
                           OVER (ORDER BY ts, event_id) AS gap_us
                FROM events
            )
            SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
                   ROUND(gap_us / 1000000.0, 6) AS gap_s
            FROM g WHERE gap_us >= 300000000
        """,
        "q32_contradictions": f"""
            WITH {TOKS_CTE},
            prep AS (
                SELECT doc_id,
                       list_filter(list_distinct(toks),
                           x -> NOT list_contains({_STOPWORDS_SQL}, x)
                                AND NOT list_contains({_NEG_SQL}, x)) AS w,
                       len(list_intersect(list_distinct(toks), {_NEG_SQL})) > 0 AS has_neg
                FROM toks_t
            ),
            ex AS (SELECT doc_id, unnest(w) AS k FROM prep),
            sz AS (SELECT doc_id, len(w) AS sz, has_neg FROM prep),
            c AS (
                SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
                FROM ex a JOIN ex b ON a.k = b.k AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a, b, ROUND(c / (sa.sz + sb.sz - c), 6) AS topic_score
            FROM c JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.7
              AND sa.has_neg <> sb.has_neg
        """,
        "q33_extract_units": """
            SELECT trim(s) AS content, source,
                   ROUND(LEAST(len(trim(s)) / CAST(100.0 AS DOUBLE),
                               CAST(1.0 AS DOUBLE)), 6) AS importance
            FROM (SELECT source, unnest(string_split_regex(text, '[.!?\\n]+')) AS s
                  FROM documents)
            WHERE len(trim(s)) >= 20
        """,
        "q34_quality_histogram": f"""
            WITH {TOKS_CTE},
            scored AS (
                SELECT 0.4 * (CASE WHEN len(text) <= 0 THEN 0.0
                                 WHEN len(text) < 50 THEN len(text) / 50.0
                                 WHEN len(text) <= 500 THEN 1.0
                                 ELSE greatest(0.3, 1.0 - (len(text) - 500) / 4500.0 * 0.7) END)
                   + 0.3 * (1.0 - CASE WHEN len(text) = 0 THEN 0.0
                         ELSE (len(text) - len(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))::DOUBLE
                              / len(text) END)
                   + 0.3 * (1.0 - CASE WHEN len(toks) = 0 THEN 0.0
                         ELSE len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
                              / len(toks) END) AS q
                FROM toks_t
            )
            SELECT CAST(LEAST(FLOOR(q * 5), 4) AS BIGINT) AS bin, COUNT(*) AS n
            FROM scored GROUP BY 1 ORDER BY 1
        """,
        "q35_components": f"""
            WITH RECURSIVE {TOKS_CTE},
            sh AS (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                                   i -> array_to_string(toks[i+1:i+3], ' '))
                )) AS shingle
                FROM toks_t
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            common AS (
                SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT CAST(a AS VARCHAR) AS from_id, CAST(b AS VARCHAR) AS to_id
                FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
                WHERE c / (sa.sz + sb.sz - c) >= 0.3
            ),
            sym AS (
                SELECT from_id, to_id FROM pairs
                UNION SELECT to_id, from_id FROM pairs
            ),
            reach(node_id, r) AS (
                SELECT from_id, to_id FROM sym
                UNION
                SELECT reach.node_id, sym.to_id
                FROM reach JOIN sym ON reach.r = sym.from_id
                WHERE sym.to_id <> reach.node_id
            )
            SELECT node_id, LEAST(node_id, MIN(r)) AS component
            FROM reach GROUP BY node_id
        """,
        "q36_ivf_knn": """
            WITH seeds AS (
                SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
                FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            assign AS (
                SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                           s.centroid) DESC,
                                    s.cell ASC) AS rk
                FROM embeddings e, seeds s
            ),
            cells AS (SELECT vec_id, v, cell FROM assign WHERE rk = 1),
            probe AS (
                SELECT s.cell FROM seeds s, q
                ORDER BY list_cosine_similarity(s.centroid, q.qv) DESC, s.cell ASC
                LIMIT 8
            )
            SELECT c.vec_id,
                   ROUND(list_cosine_similarity(c.v, q.qv), 6) AS score
            FROM cells c JOIN probe p ON c.cell = p.cell, q
            ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id ASC
            LIMIT 10
        """,
        "q37_source_reliability": """
            WITH s AS (
                SELECT source, LEAST(n_chars / 500.0, CAST(1.0 AS DOUBLE)) AS q
                FROM documents
            ),
            agg AS (
                SELECT source, COUNT(*) AS n_items, AVG(q) AS avg_q,
                       COALESCE(stddev_samp(q), 0.0) AS sd_q
                FROM s GROUP BY source
            )
            SELECT source, n_items,
                   ROUND(avg_q, 6) AS avg_quality,
                   ROUND(GREATEST(CAST(0.0 AS DOUBLE), 1.0 - sd_q), 6) AS consistency,
                   ROUND(0.6 * avg_q + 0.2 * GREATEST(CAST(0.0 AS DOUBLE), 1.0 - sd_q)
                         + 0.2 * LEAST(n_items / 100.0, CAST(1.0 AS DOUBLE)), 6)
                       AS reliability
            FROM agg
        """,
        "q38_cross_validate": """
            SELECT md5(trim(regexp_replace(lower(p_type), '\\s+', ' ', 'g')))
                       AS claim_hash,
                   COUNT(DISTINCT p_brand) AS n_sources,
                   COUNT(*) AS n_items,
                   MIN(p_partkey) AS example_id
            FROM part
            GROUP BY 1 HAVING COUNT(DISTINCT p_brand) >= 3
        """,
        "q39_relationship_metrics": f"""
            WITH {EDGES_CTE},
            conf AS (
                SELECT relation_type, CAST(0.5 AS DOUBLE) AS confidence_score
                FROM edges
            ),
            nodes AS (
                SELECT from_id AS node_id FROM edges
                UNION SELECT to_id FROM edges
            ),
            density AS (
                SELECT CAST((SELECT COUNT(*) FROM edges) AS DOUBLE)
                       / ((SELECT COUNT(*) FROM nodes)
                          * ((SELECT COUNT(*) FROM nodes) - 1)) AS d
            )
            SELECT relation_type, COUNT(*) AS n_edges,
                   ROUND(AVG(confidence_score), 6) AS avg_confidence,
                   ROUND((SELECT d FROM density), 9) AS graph_density
            FROM conf GROUP BY relation_type
        """,
        "q40_rating_correlations": """
            SELECT ROUND(corr(l_quantity, l_extendedprice), 6)
                       AS corr_l_quantity__l_extendedprice,
                   ROUND(corr(l_quantity, l_discount), 6)
                       AS corr_l_quantity__l_discount,
                   ROUND(corr(l_extendedprice, l_discount), 6)
                       AS corr_l_extendedprice__l_discount
            FROM lineitem
        """,
        "q41_semantic_suggestions": """
            WITH pairs AS (
                SELECT a.vec_id AS a, b.vec_id AS b,
                       list_cosine_similarity(a.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]) AS cosine
                FROM embeddings a JOIN embeddings b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]) >= 0.3
            ),
            sym_pairs AS (
                SELECT a, b, cosine FROM pairs
                UNION ALL SELECT b, a, cosine FROM pairs
            ),
            ranked AS (
                SELECT a, b, cosine,
                       ROW_NUMBER() OVER (PARTITION BY a
                                          ORDER BY cosine DESC, b ASC) AS rk
                FROM sym_pairs
            )
            SELECT a, b, 'SEMANTICALLY_SIMILAR' AS relation_type,
                   ROUND(cosine, 6) AS confidence
            FROM ranked WHERE rk <= 3
        """,
        "q42_autocorrelation": """
            WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS bucket, COUNT(*) AS n
                       FROM events GROUP BY 1),
            l AS (SELECT n, lag(n, 1) OVER (ORDER BY bucket) AS prev FROM c)
            SELECT ROUND(corr(n, prev), 6) AS autocorr,
                   COUNT(*) AS n_points,
                   CAST(1 AS BIGINT) AS lag
            FROM l WHERE prev IS NOT NULL
        """,
        "q43_behavioral_anomalies": """
            WITH counts AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
            stats AS (SELECT AVG(n) AS mu, COALESCE(stddev_samp(n), 0.0) AS sd
                      FROM counts)
            SELECT user_id, n, ROUND((n - mu) / sd, 6) AS z
            FROM counts, stats
            WHERE sd > 0 AND ABS(ROUND((n - mu) / sd, 6)) > 2.0
        """,
        "q44_date_range": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
                                  AND TIMESTAMP '1996-06-15 00:00:00'
              AND starts_with(o_orderpriority, '1')
        """,
        "q45_simhash32": f"""
            WITH {TOKS_CTE},
            tok AS (SELECT doc_id, unnest(toks) AS t FROM toks_t),
            hashed AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(range(0, 8),
                            i -> (strpos('0123456789abcdef',
                                         substr(md5(t), i::INT + 1, 1)) - 1)
                                 * power(16, 7 - i))) AS BIGINT) AS h
                FROM tok
            ),
            bits AS (
                SELECT doc_id, b,
                       SUM(CASE WHEN (h >> b::INT) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM hashed, range(0, 32) r(b) GROUP BY 1, 2
            ),
            packed AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END)
                            AS BIGINT) AS sh
                FROM bits GROUP BY 1
            ),
            chunks AS (
                SELECT doc_id, sh, ci, (sh >> (ci::INT * 8)) & 255 AS cv
                FROM packed, range(0, 4) c(ci)
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                       bit_count(xor(a.sh, b.sh)) AS hamming
                FROM chunks a JOIN chunks b
                  ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
            )
            SELECT a, b, CAST(hamming AS BIGINT) AS hamming
            FROM cand WHERE hamming <= 3
        """,
        "q46_passage_overlap": f"""
            WITH {TOKS_CTE},
            fp AS (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(0, greatest(len(toks) - 8, 0) + 1),
                                   i -> md5(array_to_string(toks[i+1:i+8], ' ')))
                )) AS fp
                FROM toks_t
            )
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_shared
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        """,
        "q47_merge_semantics": """
            SELECT p_brand,
                   array_to_string(list_sort(list_distinct(
                       flatten(list(string_split(p_type, ' '))))), ',')
                       AS merged_tags,
                   MAX(p_retailprice) AS max_price,
                   COUNT(*) AS n_parts
            FROM part GROUP BY p_brand
        """,
        "q48_content_scan": """
            SELECT doc_id, source FROM documents
            WHERE contains(text, 'window') AND lang = 'en'
            ORDER BY doc_id LIMIT 50
        """,
        "q49_relation_chains": f"""
            WITH RECURSIVE {EDGES_CTE},
            ce AS (SELECT from_id, to_id FROM edges
                   WHERE relation_type IN ('placed', 'contains')),
            chains(start, end_, len) AS (
                SELECT from_id, to_id, 2 FROM ce
                UNION ALL
                SELECT c.start, e.to_id, c.len + 1
                FROM chains c JOIN ce e ON e.from_id = c.end_
                WHERE c.len < 3
            )
            SELECT DISTINCT start, end_ AS "end", CAST(len AS BIGINT) AS length
            FROM chains
        """,
    }

    causal_kw = qa.parse_question(QA_QUESTIONS[2][1]).keywords
    causal_marks = " OR ".join(f"contains(lower(text), '{p}')"
                               for p in qa.CAUSAL_KEYWORDS)
    sql["q50_qa_evidence"] = f"""
        WITH {TOKS_CTE},
        scored AS (
            SELECT doc_id, {_qa_rel_sql(causal_kw)} AS relevance,
                   ({causal_marks}) AS has_causal
            FROM toks_t
        )
        SELECT doc_id, relevance, has_causal FROM scored
        WHERE relevance > 0
        ORDER BY relevance DESC, doc_id ASC
        LIMIT 20
    """

    parts, finals = [], []
    for i, (qtype, question) in enumerate(QA_QUESTIONS):
        kws = qa.parse_question(question).keywords
        parts.append(f"""
        s{i} AS (
            SELECT doc_id, {_qa_rel_sql(kws)} AS r FROM toks_t
        ),
        t{i} AS (SELECT r FROM s{i} WHERE r > 0
                 ORDER BY r DESC, doc_id ASC LIMIT 20),
        a{i} AS (SELECT '{qtype}' AS qtype, COUNT(*) AS n, AVG(r) AS avg_rel,
                        SUM(CASE WHEN r > 0.7 THEN 1 ELSE 0 END) AS nhq
                 FROM t{i})""")
        finals.append(f"SELECT * FROM a{i}")
    sql["q51_qa_confidence"] = f"""
        WITH {TOKS_CTE},{",".join(parts)}
        SELECT qtype, CAST(n AS BIGINT) AS n_evidence,
               ROUND(CASE WHEN n = 0 THEN 0.1
                     ELSE LEAST(avg_rel * 0.6
                          + CASE WHEN n >= 3 THEN 0.2
                                 WHEN n >= 2 THEN 0.1 ELSE 0.0 END
                          + (nhq::DOUBLE / n) * 0.2, 0.95) END, 6) AS confidence
        FROM ({" UNION ALL ".join(finals)})
    """

    sql["q52_contradiction_resolution"] = """
        WITH p AS (
            SELECT a.event_id AS a, b.event_id AS b, a.ts AS ts_a, b.ts AS ts_b,
                   ABS(epoch_us(a.ts) - epoch_us(b.ts)) / 1000000.0 AS dt,
                   len(a.event_type) + len(b.event_type) AS els
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
            WHERE ABS(epoch_us(a.ts) - epoch_us(b.ts)) / 1000000.0 < 3600.0
        ),
        s AS (
            SELECT a, b, ts_a, ts_b,
                   0.5 + GREATEST(0.5, 1.0 - dt / 3600.0) * 0.2
                       + LEAST(els / 1000.0 * 0.1, 0.2) AS score
            FROM p
        )
        SELECT a, b,
               ROUND(score, 6) AS severity_score,
               CASE WHEN score >= 0.8 THEN 'critical'
                    WHEN score >= 0.6 THEN 'high'
                    WHEN score >= 0.4 THEN 'medium' ELSE 'low' END AS severity,
               'resolved' AS status,
               CASE WHEN ts_a >= ts_b THEN a ELSE b END AS preferred,
               CAST(0.7 AS DOUBLE) AS resolution_confidence
        FROM s
    """

    from memory_engine_spark.operators.perspectives import PERSPECTIVE_INDICATORS
    fixture_rows = ", ".join(
        f"('{p}', '{t}', '{x}', '{c}', '{e}')"
        for p, t, x, c, e in PERSPECTIVE_FIXTURE)
    type_case = "CASE " + " ".join(
        "WHEN (" + " OR ".join(f"contains(lower(text), '{kw}')"
                               for kw in PERSPECTIVE_INDICATORS[pt]) + ")"
        f" THEN '{pt}'"
        for pt in ("opposing", "complementary", "alternative",
                   "stakeholder", "methodological")
    ) + " ELSE 'none' END"
    wset = ("list_distinct(list_filter("
            "string_split_regex(lower({0}), '\\s+'), e -> e <> ''))")
    jac = (f"(len(list_intersect({wset.format('a.{0}')}, {wset.format('b.{0}')}))::DOUBLE"
           f" / len(list_distinct(list_concat({wset.format('a.{0}')},"
           f" {wset.format('b.{0}')}))))")
    sql["q53_perspective_types"] = f"""
        WITH p AS (
            SELECT pid, topic, text, claims,
                   string_split(evidence, ',') AS ev,
                   {type_case} AS ptype
            FROM (VALUES {fixture_rows})
                 t(pid, topic, text, claims, evidence)
        ),
        pairs AS (
            SELECT a.topic,
                   GREATEST(
                       {jac.format('text')} * 0.5
                       + {jac.format('claims')} * 0.3
                       + (CASE WHEN GREATEST(len(a.ev), len(b.ev)) > 0
                               THEN len(list_intersect(a.ev, b.ev))::DOUBLE
                                    / GREATEST(len(a.ev), len(b.ev))
                               ELSE 0.0 END) * 0.2
                       - CASE WHEN a.ptype <> b.ptype THEN 0.2 ELSE 0.0 END,
                       0.0) AS sim
            FROM p a JOIN p b ON a.topic = b.topic AND a.pid < b.pid
        ),
        topics AS (
            SELECT p.topic, COUNT(*) AS n_perspectives FROM p GROUP BY 1
        ),
        avgs AS (SELECT topic, AVG(sim) AS avg_sim FROM pairs GROUP BY 1)
        SELECT p.pid, p.topic, p.ptype,
               CAST(t.n_perspectives AS BIGINT) AS n_perspectives,
               ROUND(COALESCE(a.avg_sim, 1.0), 6) AS avg_similarity,
               CASE WHEN t.n_perspectives < 2 THEN 'strong_consensus'
                    WHEN a.avg_sim >= 0.8 THEN 'strong_consensus'
                    WHEN a.avg_sim >= 0.6 THEN 'moderate_consensus'
                    WHEN a.avg_sim >= 0.4 THEN 'weak_consensus'
                    WHEN a.avg_sim >= 0.2 THEN 'no_consensus'
                    ELSE 'strong_disagreement' END AS consensus_level
        FROM p JOIN topics t ON t.topic = p.topic
        LEFT JOIN avgs a ON a.topic = p.topic
    """

    from memory_engine_spark.operators import quality as qual

    def _lvl(expr: str) -> str:
        return (f"CASE WHEN {expr} >= 0.9 THEN 'excellent' "
                f"WHEN {expr} >= 0.7 THEN 'good' "
                f"WHEN {expr} >= 0.5 THEN 'fair' "
                f"WHEN {expr} >= 0.3 THEN 'poor' ELSE 'critical' END")

    def _hits(words) -> str:
        return " + ".join(
            f"CASE WHEN contains(lower(text), '{w}') THEN 1 ELSE 0 END"
            for w in words)

    addressed = " + ".join(
        "CASE WHEN " + " OR ".join(f"contains(lower(text), '{w}')" for w in ws)
        + " THEN 1 ELSE 0 END"
        for ws in qual.COMPLETENESS_INDICATORS.values())

    def _rc(pat: str) -> str:
        return f"len(regexp_extract_all(text, '{pat}'))"

    sent_cnt = ("len(list_filter(string_split_regex(text, '[.!?]+'), "
                "s -> len(trim(s)) > 10))")
    # comp/scored CTE shared by q54 and q107 (the enhancement plan
    # re-ranks the same graded content scores), defined once so the
    # two oracles cannot drift.
    content_comp = f"""comp AS (
            SELECT doc_id,
                CAST(CASE WHEN len(text) < 50 THEN 0.2
                     WHEN len(text) < 100 THEN 0.5
                     WHEN len(text) < 500 THEN 0.8
                     WHEN len(text) < 2000 THEN 1.0
                     WHEN len(text) < 5000 THEN 0.9 ELSE 0.7 END AS DOUBLE)
                    AS length_score,
                CAST(LEAST(
                    (CASE WHEN regexp_matches(text, '(?m)^#+\\s|^[A-Z][^.!?]*:$')
                          THEN 0.2 ELSE 0.0 END)
                    + (CASE WHEN regexp_matches(text, '(?m)^[\\s]*[-*•]\\s')
                            THEN 0.2 ELSE 0.0 END)
                    + (CASE WHEN len(string_split(text, chr(10) || chr(10))) > 1
                            THEN 0.2 ELSE 0.0 END)
                    + (CASE WHEN {sent_cnt} >= 2 THEN 0.2 ELSE 0.0 END)
                    + (CASE WHEN {sent_cnt} >= 5 THEN 0.2 ELSE 0.0 END),
                    1.0) AS DOUBLE) AS structure_score,
                CAST(LEAST(
                    LEAST({_rc(qual._PAT_CITATIONS)} * 0.1, 0.3)
                    + LEAST({_rc(qual._PAT_URLS)} * 0.05, 0.2)
                    + LEAST({_rc(qual._PAT_NUMBERS)} * 0.02, 0.2)
                    + LEAST({_rc(qual._PAT_DATES)} * 0.05, 0.15)
                    + LEAST({_rc(qual._PAT_TECH)} * 0.01, 0.15),
                    1.0) AS DOUBLE) AS richness_score,
                CAST(GREATEST(0.0, LEAST(
                    0.5 + LEAST(({_hits(qual.POSITIVE_INDICATORS)}) * 0.05, 0.3)
                        - LEAST(({_hits(qual.NEGATIVE_INDICATORS)}) * 0.1, 0.4)
                        + (CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                                     x -> x <> ''))::DOUBLE
                                     / len(string_split_regex(text, '[.!?]+'))
                                     BETWEEN 10 AND 20 THEN 0.2
                                WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                                     x -> x <> ''))::DOUBLE
                                     / len(string_split_regex(text, '[.!?]+'))
                                     > 30 THEN -0.2 ELSE 0.0 END),
                    1.0)) AS DOUBLE) AS clarity_score,
                CAST(LEAST(0.5 + ({addressed}) / 5.0 * 0.4, 1.0) AS DOUBLE)
                    AS completeness_score
            FROM documents
        ),
        scored AS (
            SELECT *, (length_score + structure_score + richness_score
                       + clarity_score + completeness_score) / 5.0 AS cs
            FROM comp
        )"""

    sql["q54_quality_content_dimension"] = f"""
        WITH {content_comp}
        SELECT doc_id, ROUND(length_score, 6) AS length_score,
               ROUND(structure_score, 6) AS structure_score,
               ROUND(richness_score, 6) AS richness_score,
               ROUND(clarity_score, 6) AS clarity_score,
               ROUND(completeness_score, 6) AS completeness_score,
               ROUND(cs, 6) AS content_score,
               {_lvl('cs')} AS content_level
        FROM scored
    """

    sql["q55_quality_structural_dimension"] = f"""
        WITH {EDGES_CTE},
        incident AS (
            SELECT from_id AS node_id, relation_type,
                   LEAST(0.5 + 0.5 * 0.2, 1.0) AS rq, 1 AS o, 0 AS i FROM edges
            UNION ALL
            SELECT to_id, relation_type,
                   LEAST(0.5 + 0.5 * 0.2, 1.0), 0, 1 FROM edges
        ),
        agg AS (
            SELECT node_id, COUNT(*) AS n, CAST(AVG(rq) AS DOUBLE) AS rel_quality,
                   SUM(o) AS outg, SUM(i) AS inc,
                   COUNT(DISTINCT relation_type) AS uniq
            FROM incident GROUP BY 1
        ),
        scored AS (
            SELECT node_id, n, rel_quality,
                CAST(CASE WHEN n = 0 THEN 0.0 WHEN n = 1 THEN 0.3
                     WHEN n <= 3 THEN 0.6 WHEN n <= 7 THEN 0.9
                     ELSE 1.0 END AS DOUBLE) AS connectivity,
                CAST((CASE WHEN GREATEST(inc, outg) > 0
                      THEN LEAST(inc, outg)::DOUBLE / GREATEST(inc, outg)
                      ELSE 0.0 END) * 0.7
                     + LEAST(n / 10.0, 1.0) * 0.3 AS DOUBLE) AS centrality,
                CAST(CASE WHEN uniq::DOUBLE / n >= 0.8 THEN 1.0
                     WHEN uniq::DOUBLE / n >= 0.6 THEN 0.8
                     WHEN uniq::DOUBLE / n >= 0.4 THEN 0.6
                     WHEN uniq::DOUBLE / n >= 0.2 THEN 0.4
                     ELSE 0.2 END AS DOUBLE) AS diversity
            FROM agg
        ),
        final AS (
            SELECT *, (connectivity + rel_quality + centrality + diversity)
                      / 4.0 AS ss
            FROM scored
        )
        SELECT node_id, CAST(n AS BIGINT) AS n_relationships,
               ROUND(connectivity, 6) AS connectivity_score,
               ROUND(rel_quality, 6) AS relationship_quality_score,
               ROUND(centrality, 6) AS centrality_score,
               ROUND(diversity, 6) AS diversity_score,
               ROUND(ss, 6) AS structural_score,
               {_lvl('ss')} AS structural_level
        FROM final
    """

    from memory_engine_spark.operators.text import GOPHER_STOPWORDS
    gsw = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
    sql["q56_gopher_filter"] = f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS words,
                   list_filter(string_split(text, chr(10)),
                               x -> trim(x) <> '') AS lines,
                   (len(text) - len(replace(text, '#', '')))
                       + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS symbols
            FROM documents
        ),
        sig AS (
            SELECT doc_id,
                CAST(len(words) AS BIGINT) AS word_count,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE
                    ROUND(list_sum(list_transform(words, x -> len(x)))::DOUBLE
                          / len(words), 6) END AS mean_word_length,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE
                    ROUND(symbols::DOUBLE / len(words), 6) END AS symbol_word_ratio,
                ROUND(len(list_filter(lines,
                          x -> regexp_matches(trim(x), '^[-*•]')))::DOUBLE
                      / GREATEST(len(lines), 1), 6) AS bullet_line_ratio,
                ROUND(len(list_filter(lines,
                          x -> regexp_matches(trim(x), '(\\.\\.\\.|…)$')))::DOUBLE
                      / GREATEST(len(lines), 1), 6) AS ellipsis_line_ratio,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE
                    ROUND(len(list_filter(words,
                              x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                          / len(words), 6) END AS alpha_word_ratio,
                CAST(len(list_intersect(
                    list_distinct(list_transform(words, x -> lower(x))),
                    {gsw})) AS BIGINT) AS stopword_hits
            FROM w
        )
        SELECT *,
               (word_count >= 50 AND word_count <= 100000
                AND mean_word_length >= 3 AND mean_word_length <= 10
                AND symbol_word_ratio <= 0.1 AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
                AND stopword_hits >= 2) AS keep
        FROM sig
    """

    sql["q57_repetition_stats"] = f"""
        WITH {TOKS_CTE},
        l AS (
            SELECT doc_id, text,
                   list_filter(string_split(text, chr(10)),
                               x -> trim(x) <> '') AS lines,
                   toks
            FROM toks_t
        ),
        base AS (
            SELECT doc_id,
                ROUND((len(lines) - len(list_distinct(lines)))::DOUBLE
                      / GREATEST(len(lines), 1), 6) AS duplicate_line_fraction,
                ROUND((COALESCE(list_sum(list_transform(lines, x -> len(x))), 0)
                       - COALESCE(list_sum(list_transform(list_distinct(lines),
                                                          x -> len(x))), 0))::DOUBLE
                      / GREATEST(len(text), 1), 6)
                    AS duplicate_line_char_fraction,
                GREATEST(len(text), 1) AS chars
            FROM l
        ),
        grams AS (
            SELECT doc_id, unnest(list_transform(
                range(0, greatest(len(toks) - 2, 0) + 1),
                i -> array_to_string(toks[i+1:i+2], ' '))) AS g
            FROM l
        ),
        counts AS (
            SELECT doc_id, g, COUNT(*) AS n FROM grams
            WHERE g <> '' GROUP BY 1, 2
        ),
        top AS (
            SELECT doc_id, n AS top_n, len(g) AS top_l FROM (
                SELECT doc_id, g, n,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY n DESC, g ASC) AS rk
                FROM counts) WHERE rk = 1
        )
        SELECT b.doc_id, b.duplicate_line_fraction,
               b.duplicate_line_char_fraction,
               CASE WHEN t.top_n IS NULL THEN 0.0
                    ELSE ROUND(t.top_n * t.top_l / b.chars, 6) END
                   AS top_ngram_char_fraction
        FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
    """

    sql["q58_decontamination"] = f"""
        WITH {TOKS_CTE},
        fps AS (
            SELECT doc_id, source, unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 8, 0) + 1),
                               i -> md5(array_to_string(toks[i+1:i+8], ' ')))
            )) AS fp
            FROM toks_t JOIN documents USING (doc_id)
        ),
        bench AS (SELECT DISTINCT fp FROM fps WHERE source = 'src0')
        SELECT f.doc_id, COUNT(*) AS n_collisions
        FROM fps f JOIN bench b ON f.fp = b.fp
        WHERE f.source <> 'src0'
        GROUP BY 1
    """

    sql["q59_sessionize"] = """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts ASC, event_id ASC
                                          ROWS UNBOUNDED PRECEDING) AS seq
            FROM flagged
        )
        SELECT user_id, user_id || '#' || seq AS session_id,
               COUNT(*) AS n_events,
               ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0, 6)
                   AS duration_s
        FROM numbered GROUP BY 1, 2
    """

    sql["q60_asof_join"] = """
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        errors AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'error'
        )
        SELECT c.event_id, c.user_id, e.value AS error_value,
               epoch_us(e.ts) AS matched_us
        FROM clicks c ASOF LEFT JOIN errors e
          ON c.user_id = e.user_id AND c.ts >= e.ts
    """

    sql["q61_range_join"] = """
        WITH clicks AS (
            SELECT event_id AS click_id, ts FROM events
            WHERE event_type = 'click'
        ),
        windows AS (
            SELECT event_id AS interval_id, ts AS start_ts,
                   ts + INTERVAL 30 MINUTE AS end_ts
            FROM events WHERE event_type = 'error'
        )
        SELECT c.click_id, w.interval_id
        FROM clicks c JOIN windows w
          ON c.ts BETWEEN w.start_ts AND w.end_ts
    """

    rollup_branch = """
        SELECT '{res}' AS resolution,
               strftime(date_trunc('{res}', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
                   AS sum_value
        FROM events GROUP BY 1, 2, 3"""
    sql["q62_rollup_cascade"] = " UNION ALL ".join(
        rollup_branch.format(res=r) for r in ("hour", "day", "month"))

    from memory_engine_spark.operators.text import PII_PATTERNS
    pii_rows = ", ".join(f"('{d}', '{b}')" for d, b in PII_FIXTURE)
    redact = "body"
    for tag, pat in PII_PATTERNS:
        redact = f"regexp_replace({redact}, '{pat}', '<{tag}>', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(body, '{pat}')) AS BIGINT) AS {tag.lower()}"
        for tag, pat in PII_PATTERNS)
    sql["q64_pii_redaction"] = f"""
        SELECT doc_id, {redact} AS redacted, {counts}
        FROM (VALUES {pii_rows}) t(doc_id, body)
    """

    sql["q65_hash_split"] = """
        WITH b AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                              substr(md5('split:' || doc_id), j::INT + 1, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) % 10000 AS bkt
            FROM documents
        )
        SELECT CASE WHEN bkt < 8000 THEN 'train'
                    WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM b GROUP BY 1
    """

    sql["q63_bm25"] = f"""
        WITH {TOKS_CTE},
        base AS (SELECT doc_id, toks, len(toks) AS dl FROM toks_t),
        stats AS (SELECT COUNT(*) AS N, AVG(dl) AS avgdl FROM base),
        tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf
            FROM (SELECT doc_id, dl, unnest(list_filter(toks,
                      x -> list_contains(['spark','join','filter','stream'], x)))
                      AS term
                  FROM base)
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1)
        SELECT doc_id,
               ROUND(SUM(ln(1.0 + (N - df_t + 0.5) / (df_t + 0.5))
                         * tf * (1.2 + 1.0)
                         / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                   AS score
        FROM tf JOIN dfreq USING (term), stats
        GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC
        LIMIT 20
    """

    sql["q66_dedup_clusters"] = f"""
        WITH RECURSIVE {TOKS_CTE},
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                               i -> array_to_string(toks[i+1:i+3], ' '))
            )) AS shingle
            FROM toks_t
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT CAST(a AS VARCHAR) AS from_id, CAST(b AS VARCHAR) AS to_id
            FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
            WHERE c / (sa.sz + sb.sz - c) >= 0.3
        ),
        sym AS (
            SELECT from_id, to_id FROM pairs
            UNION SELECT to_id, from_id FROM pairs
        ),
        reach(node_id, r) AS (
            SELECT from_id, to_id FROM sym
            UNION
            SELECT reach.node_id, sym.to_id
            FROM reach JOIN sym ON reach.r = sym.from_id
            WHERE sym.to_id <> reach.node_id
        ),
        comp AS (
            SELECT node_id, LEAST(node_id, MIN(r)) AS component
            FROM reach GROUP BY node_id
        ),
        labeled AS (
            SELECT d.doc_id,
                   COALESCE(c.component, CAST(d.doc_id AS VARCHAR)) AS cluster,
                   len(d.text) AS pref
            FROM documents d
            LEFT JOIN comp c ON CAST(d.doc_id AS VARCHAR) = c.node_id
        )
        SELECT doc_id, cluster,
               CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
                   AS cluster_size,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY cluster
                        ORDER BY pref DESC, doc_id ASC) = 1
                    THEN 1 ELSE 0 END AS is_canonical
        FROM labeled
    """

    sql["q67_knn_join"] = """
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        assign AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                       s.centroid) DESC,
                                s.cell ASC) AS rk
            FROM embeddings e, seeds s
        ),
        cells AS (SELECT vec_id, v, cell FROM assign WHERE rk = 1),
        probes AS (SELECT vec_id AS qid, v AS qv, cell
                   FROM assign WHERE rk <= 2),
        scored AS (
            SELECT p.qid, c.vec_id AS nid,
                   list_cosine_similarity(p.qv, c.v) AS s,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.qid
                       ORDER BY list_cosine_similarity(p.qv, c.v) DESC,
                                c.vec_id ASC) AS nn_rank
            FROM probes p JOIN cells c ON p.cell = c.cell
            WHERE c.vec_id <> p.qid
        )
        SELECT qid, nid, CAST(nn_rank AS INT) AS nn_rank,
               ROUND(s, 6) AS score
        FROM scored WHERE nn_rank <= 5
    """

    def md5_bucket(salt: str, id_expr: str = "doc_id") -> str:
        """The portable md5→[0,10000) bucket (same arithmetic as
        corpus._hash_bucket / text.hash_split)."""
        return f"""CAST(list_sum(list_transform(range(0, 8),
            j -> (strpos('0123456789abcdef',
                  substr(md5('{salt}:' || {id_expr}), j::INT + 1, 1)) - 1)
                 * power(16, 7 - j))) AS BIGINT) % 10000"""

    mix_case = " ".join(
        f"WHEN '{s}' THEN {int(round(r * 10000))}"
        for s, r in _MIX_RATES.items())
    sql["q68_stratified_sample"] = f"""
        WITH b AS (
            SELECT doc_id, source, {md5_bucket('sample')} AS bucket
            FROM documents
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM b
        WHERE bucket < CASE source {mix_case}
                       ELSE {int(round(_MIX_DEFAULT * 10000))} END
        GROUP BY source
    """

    sql["q69_pack_sequences"] = f"""
        WITH {TOKS_CTE},
        base AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   CAST(({md5_bucket('pack')}) % 8 AS INT) AS shard
            FROM toks_t WHERE len(toks) > 0
        ),
        within AS (
            SELECT doc_id, shard, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM base
        ),
        tot AS (SELECT shard, MAX(cum) AS tot FROM within GROUP BY 1),
        bases AS (
            SELECT shard,
                   SUM(tot) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING)
                       - tot AS base
            FROM tot
        )
        SELECT w.doc_id, w.shard, CAST(w.n_tokens AS BIGINT) AS n_tokens,
               CAST(b.base + w.cum - w.n_tokens AS BIGINT) AS start_offset,
               CAST((b.base + w.cum - w.n_tokens) // 512 AS BIGINT) AS seq_id,
               CAST((b.base + w.cum - w.n_tokens) % 512 AS BIGINT)
                   AS offset_in_seq,
               CAST((b.base + w.cum - 1) // 512
                    - (b.base + w.cum - w.n_tokens) // 512 + 1 AS BIGINT)
                   AS n_seqs
        FROM within w JOIN bases b USING (shard)
    """

    sql["q70_vocabulary"] = f"""
        WITH {TOKS_CTE},
        tok AS (SELECT doc_id, unnest(toks) AS term FROM toks_t),
        stats AS (SELECT COUNT(*) AS n FROM documents),
        agg AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
            FROM tok GROUP BY 1
        )
        SELECT term, tf, doc_freq,
               ROUND(ln((n + 1.0) / (doc_freq + 1.0)) + 1.0, 6) AS idf
        FROM agg, stats
        ORDER BY tf DESC, term ASC LIMIT 100
    """

    sql["q71_quantize_int8"] = """
        WITH q AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) / 127.0 AS scale
            FROM embeddings
        ),
        qq AS (
            SELECT vec_id, v, scale,
                   CASE WHEN scale * 127.0 < 1e-10
                        THEN list_transform(v, x -> 0)
                        ELSE list_transform(v, x -> CAST(round(x / scale)
                                                         AS INT)) END AS qvec
            FROM q
        )
        SELECT vec_id, ROUND(scale, 6) AS scale,
               CAST(list_sum(qvec) AS BIGINT) AS sum_q,
               CAST(len(list_filter(qvec, x -> x <> 0)) AS BIGINT) AS nnz,
               ROUND(list_cosine_similarity(
                   list_transform(qvec, x -> x * scale), v), 6) AS dequant_cos
        FROM qq
    """

    sql["q72_chunk_tokens"] = f"""
        WITH {TOKS_CTE},
        base AS (
            SELECT doc_id, toks, len(toks) AS n,
                   GREATEST(1, CAST(ceil((len(toks) - 8) / 56.0) AS INT))
                       AS n_chunks
            FROM toks_t
        ),
        exploded AS (
            SELECT doc_id, toks, n,
                   unnest(range(0, n_chunks)) AS chunk_idx
            FROM base
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(chunk_idx * 56 AS BIGINT) AS start_tok,
               CAST(len(toks[chunk_idx * 56 + 1 : chunk_idx * 56 + 64])
                    AS BIGINT) AS n_chunk_tokens,
               md5(array_to_string(
                   toks[chunk_idx * 56 + 1 : chunk_idx * 56 + 64], ' '))
                   AS chunk_md5
        FROM exploded
    """

    sql["q73_pq_topk"] = """
        WITH seeds AS (
            SELECT embedding::DOUBLE[] AS v,
                   ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS code
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        sub AS (SELECT CAST(j AS INT) AS subspace FROM range(0, 8) r(j)),
        books AS (
            SELECT subspace, code,
                   list_slice(v, subspace * 8 + 1, subspace * 8 + 8)
                       AS centroid
            FROM seeds, sub
        ),
        vecs AS (
            SELECT e.vec_id, s.subspace,
                   list_slice(e.embedding::DOUBLE[],
                              s.subspace * 8 + 1, s.subspace * 8 + 8) AS sv
            FROM embeddings e, sub s
        ),
        dists AS (
            SELECT v.vec_id, v.subspace, b.code,
                   list_sum(list_transform(range(1, 9),
                       i -> (v.sv[i::INT] - b.centroid[i::INT])
                            * (v.sv[i::INT] - b.centroid[i::INT]))) AS d
            FROM vecs v JOIN books b USING (subspace)
        ),
        ranked AS (
            SELECT vec_id, subspace, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY d ASC, code ASC) AS rk
            FROM dists
        ),
        codes AS (SELECT vec_id, subspace, code FROM ranked WHERE rk = 1),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        lut AS (
            SELECT b.subspace, b.code,
                   list_sum(list_transform(range(1, 9),
                       i -> (qv[(b.subspace * 8 + i)::INT]
                             - b.centroid[i::INT])
                            * (qv[(b.subspace * 8 + i)::INT]
                               - b.centroid[i::INT]))) AS d
            FROM books b, q
        )
        SELECT c.vec_id,
               ROUND(CAST(SUM(CAST(l.d AS DECIMAL(28,12))) AS DOUBLE), 6)
                   AS approx_dist
        FROM codes c JOIN lut l USING (subspace, code)
        GROUP BY c.vec_id
        ORDER BY SUM(CAST(l.d AS DECIMAL(28,12))) ASC, c.vec_id ASC
        LIMIT 10
    """

    # q74: 5 unrolled power iterations (recursive CTEs can't carry the
    # aggregate-per-step shape portably; the unroll is generated, not
    # hand-copied). Rank sums are plain doubles on both engines; the
    # output rounds AND orders by the rounded value so last-ulp drift
    # between engines can't flip the top-30 ordering.
    pr_iters = []
    for i in range(1, 6):
        pr_iters.append(f"""
        r{i} AS (
            SELECT n.node_id,
                   (SELECT (1.0 - 0.85) / n FROM nn)
                   + 0.85 * COALESCE(SUM(r.rank * w.w), 0) AS rank
            FROM pr_nodes n
            LEFT JOIN w ON w.to_id = n.node_id
            LEFT JOIN r{i - 1} r ON r.node_id = w.from_id
            GROUP BY n.node_id
        )""")
    sql["q74_pagerank"] = f"""
        WITH {EDGES_CTE},
        pr_nodes AS (
            SELECT DISTINCT node_id FROM (
                SELECT from_id AS node_id FROM edges_sym
                UNION ALL SELECT to_id FROM edges_sym)
        ),
        nn AS (SELECT COUNT(*)::DOUBLE AS n FROM pr_nodes),
        w AS (
            SELECT from_id, to_id,
                   1.0 / COUNT(*) OVER (PARTITION BY from_id) AS w
            FROM edges_sym
        ),
        r0 AS (
            SELECT node_id, (SELECT 1.0 / n FROM nn) AS rank FROM pr_nodes
        ),{','.join(pr_iters)}
        SELECT node_id,
               ROUND(rank * (SELECT n FROM nn), 6) AS rank_norm
        FROM r5
        ORDER BY ROUND(rank * (SELECT n FROM nn), 6) DESC, node_id ASC
        LIMIT 30
    """

    sql["q75_ivfpq_topk"] = """
        WITH ivf_seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        assign AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                       s.centroid) DESC,
                                s.cell ASC) AS rk
            FROM embeddings e, ivf_seeds s
        ),
        cells AS (SELECT vec_id, v, cell FROM assign WHERE rk = 1),
        probe AS (
            SELECT s.cell FROM ivf_seeds s, q
            ORDER BY list_cosine_similarity(s.centroid, q.qv) DESC, s.cell ASC
            LIMIT 4
        ),
        cand AS (SELECT c.vec_id FROM cells c JOIN probe p ON c.cell = p.cell),
        pq_seeds AS (
            SELECT embedding::DOUBLE[] AS v,
                   ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS code
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        sub AS (SELECT CAST(j AS INT) AS subspace FROM range(0, 8) r(j)),
        books AS (
            SELECT subspace, code,
                   list_slice(v, subspace * 8 + 1, subspace * 8 + 8)
                       AS centroid
            FROM pq_seeds, sub
        ),
        vecs AS (
            SELECT e.vec_id, s.subspace,
                   list_slice(e.embedding::DOUBLE[],
                              s.subspace * 8 + 1, s.subspace * 8 + 8) AS sv
            FROM embeddings e, sub s
        ),
        dists AS (
            SELECT v.vec_id, v.subspace, b.code,
                   list_sum(list_transform(range(1, 9),
                       i -> (v.sv[i::INT] - b.centroid[i::INT])
                            * (v.sv[i::INT] - b.centroid[i::INT]))) AS d
            FROM vecs v JOIN books b USING (subspace)
        ),
        ranked AS (
            SELECT vec_id, subspace, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY d ASC, code ASC) AS rk
            FROM dists
        ),
        codes AS (SELECT vec_id, subspace, code FROM ranked WHERE rk = 1),
        lut AS (
            SELECT b.subspace, b.code,
                   list_sum(list_transform(range(1, 9),
                       i -> (qv[(b.subspace * 8 + i)::INT]
                             - b.centroid[i::INT])
                            * (qv[(b.subspace * 8 + i)::INT]
                               - b.centroid[i::INT]))) AS d
            FROM books b, q
        ),
        approx AS (
            SELECT c.vec_id,
                   CAST(SUM(CAST(l.d AS DECIMAL(28,12))) AS DOUBLE) AS ad
            FROM codes c JOIN lut l USING (subspace, code)
            WHERE c.vec_id IN (SELECT vec_id FROM cand)
            GROUP BY c.vec_id
        ),
        shortlist AS (
            SELECT vec_id FROM approx ORDER BY ad ASC, vec_id ASC LIMIT 50
        )
        SELECT c.vec_id,
               ROUND(list_sum(list_transform(range(1, 65),
                   i -> (c.v[i::INT] - q.qv[i::INT])
                        * (c.v[i::INT] - q.qv[i::INT]))), 6) AS sq_dist
        FROM cells c JOIN shortlist s ON c.vec_id = s.vec_id, q
        ORDER BY sq_dist ASC, c.vec_id ASC
        LIMIT 10
    """

    sql["q76_revenue_by_nation"] = """
        SELECT n_name,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
    """

    # q77: the DuckDB half of the portable HLL is GENERATED from the
    # same module as the Spark half, so sketch and oracle cannot drift.
    from memory_engine_spark.functions.sketch import hll_oracle_sql
    hll_cte = hll_oracle_sql("orders", "o_custkey",
                             group_cols=["o_orderpriority"], p=8)
    sql["q77_hll_distinct"] = f"""
        WITH est AS ({hll_cte}),
        ex AS (
            SELECT o_orderpriority,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact
            FROM orders GROUP BY o_orderpriority
        )
        SELECT est.o_orderpriority, est.hll_estimate, ex.exact,
               ROUND(ABS(est.hll_estimate - ex.exact) / ex.exact, 4)
                   AS rel_err
        FROM est JOIN ex ON est.o_orderpriority = ex.o_orderpriority
        ORDER BY est.o_orderpriority
    """

    # q78: the CMS oracle is GENERATED by the same module as the Spark
    # sketch (functions/sketch.py:cms_oracle_sql) — identical md5 row
    # hashes, identical 4x2048 counters, identical min-readout. The
    # probe set (top-20 customers by order count) is inlined so the
    # generated CTE needs no outer references.
    from memory_engine_spark.functions.sketch import cms_oracle_sql
    _cms_probes = """
        SELECT CAST(o_custkey AS VARCHAR) AS item
        FROM (SELECT o_custkey, COUNT(*) AS c FROM orders
              GROUP BY o_custkey
              ORDER BY c DESC, o_custkey ASC LIMIT 20)
    """
    _cms_cte = cms_oracle_sql("orders", "o_custkey", _cms_probes,
                              d=4, w=2048)
    sql["q78_cms_heavy_hitters"] = f"""
        WITH est AS ({_cms_cte}),
        top AS (
            SELECT CAST(o_custkey AS VARCHAR) AS item,
                   CAST(COUNT(*) AS BIGINT) AS exact
            FROM orders GROUP BY o_custkey
            ORDER BY exact DESC, o_custkey ASC LIMIT 20
        )
        SELECT est.item, est.cms_estimate, top.exact,
               CAST(est.cms_estimate - top.exact AS BIGINT) AS overestimate
        FROM est JOIN top ON est.item = top.item
        ORDER BY top.exact DESC, est.item ASC
    """

    # q79: deliberately a DIFFERENT algorithm from the Spark side — the
    # classic u<v<w closure join over canonical edges counts each
    # triangle exactly once, so it independently proves the
    # degree-oriented wedge join in graph.triangle_count.
    sql["q79_triangles"] = """
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        canon AS (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        ),
        deg AS (
            SELECT node_id, COUNT(*) AS degree FROM (
                SELECT u AS node_id FROM canon
                UNION ALL
                SELECT v AS node_id FROM canon
            ) GROUP BY node_id
        ),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS triangles
            FROM canon e1
            JOIN canon e2 ON e1.v = e2.u
            JOIN canon e3 ON e1.u = e3.u AND e2.v = e3.v
        ),
        wtot AS (
            SELECT CAST(SUM(degree * (degree - 1)) / 2 AS BIGINT) AS wedges
            FROM deg
        )
        SELECT triangles, wedges,
               CASE WHEN wedges > 0
                    THEN ROUND(3.0 * triangles / wedges, 6)
                    ELSE 0.0 END AS global_clustering
        FROM tri, wtot
    """

    # q80: the A-ES exponential key is md5-portable by construction
    # (corpus.weighted_sample): u = (md5word('aes:'||id)+1)/2^32,
    # key = -ln(u)/weight; the 50 smallest keys are the sample.
    sql["q80_weighted_sample"] = """
        WITH keyed AS (
            SELECT doc_id, n_chars,
                   -ln((CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                              substr(md5('aes:' || CAST(doc_id AS VARCHAR)),
                                     1 + j::INT, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) + 1)
                        / 4294967296.0)
                   / CAST(n_chars AS DOUBLE) AS _k
            FROM documents
            WHERE n_chars > 0
        ),
        samp AS (
            SELECT doc_id, n_chars FROM keyed
            ORDER BY _k ASC, doc_id ASC LIMIT 50
        )
        SELECT doc_id, n_chars FROM samp ORDER BY doc_id
    """

    # q81: q13's shape with the stop-shingle guard; sizes are computed
    # AFTER dropping hot shingles on both engines, so the surviving
    # pair scores are exact and hash-checkable.
    sql["q81_jaccard_capped"] = f"""
        WITH {TOKS_CTE},
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                               i -> array_to_string(toks[i+1:i+3], ' '))
            )) AS shingle
            FROM toks_t
        ),
        kept AS (
            SELECT doc_id, shingle FROM sh
            WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 50)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
        common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
        FROM common JOIN sizes sa ON sa.doc_id = a
                    JOIN sizes sb ON sb.doc_id = b
        WHERE c / (sa.sz + sb.sz - c) >= 0.3
    """

    # q213: q81's pair machinery + the content-addressed split rule,
    # keeping only cross-split pairs — every leaked pair pinned.
    sql["q213_split_leakage"] = f"""
        WITH {TOKS_CTE},
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                               i -> array_to_string(toks[i+1:i+3], ' '))
            )) AS shingle
            FROM toks_t
        ),
        kept AS (
            SELECT doc_id, shingle FROM sh
            WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 50)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
        common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a, b, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM common JOIN sizes sa ON sa.doc_id = a
                        JOIN sizes sb ON sb.doc_id = b
            WHERE c / (sa.sz + sb.sz - c) >= 0.3
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN substring(md5(doc_id::VARCHAR), 1, 1)
                             IN ('0','1','2','3','4','5','6','7',
                                 '8','9','a','b') THEN 'train'
                        WHEN substring(md5(doc_id::VARCHAR), 1, 1)
                             IN ('c','d') THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT p.a, p.b, spa.split AS split_a, spb.split AS split_b,
               p.jaccard
        FROM pairs p JOIN sp spa ON spa.doc_id = p.a
                     JOIN sp spb ON spb.doc_id = p.b
        WHERE spa.split <> spb.split
        ORDER BY p.a, p.b
    """

    # q225: q14's full md5-portable MinHash+LSH pipeline (signature →
    # banding → candidate join → exact-Jaccard verify) at 0.6 + the
    # q213 content-addressed split rule, cross-split pairs only.
    sql["q225_minhash_leakage"] = f"""
        WITH {TOKS_CTE},
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                               i -> array_to_string(toks[i+1:i+3], ' '))
            )) AS shingle
            FROM toks_t
        ),
        words AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                                     substr(md5(shingle), j::INT + 1, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) AS w1,
                   CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                                     substr(md5(shingle), j::INT + 9, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) AS w2
            FROM sh
        ),
        sig AS (
            SELECT doc_id, i, MIN((w1 + i * w2) & 4294967295) AS h
            FROM words, range(0, 64) r(i) GROUP BY 1, 2
        ),
        banded AS (
            SELECT doc_id, i // 2 AS band,
                   string_agg(h::VARCHAR, ',' ORDER BY i) AS bk
            FROM sig GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        common AS (
            SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
            FROM sh x JOIN sh y
              ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT cand.a, cand.b,
                   ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM cand
            JOIN common ON common.a = cand.a AND common.b = cand.b
            JOIN sizes sa ON sa.doc_id = cand.a
            JOIN sizes sb ON sb.doc_id = cand.b
            WHERE c / (sa.sz + sb.sz - c) >= 0.6
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN substring(md5(doc_id::VARCHAR), 1, 1)
                             IN ('0','1','2','3','4','5','6','7',
                                 '8','9','a','b') THEN 'train'
                        WHEN substring(md5(doc_id::VARCHAR), 1, 1)
                             IN ('c','d') THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT p.a, p.b, spa.split AS split_a, spb.split AS split_b,
               p.jaccard
        FROM pairs p JOIN sp spa ON spa.doc_id = p.a
                     JOIN sp spb ON spb.doc_id = p.b
        WHERE spa.split <> spb.split
        ORDER BY p.a, p.b
    """

    # q82/q83: generated from the same indicator lists as the Spark
    # operators (quality.CONTENT_TYPE_INDICATORS / _GAP_BASE_PRIORITY)
    # so oracle and operator cannot drift.
    from memory_engine_spark.operators.quality import (
        CONTENT_TYPE_INDICATORS, _GAP_BASE_PRIORITY)

    def _like_any(col: str, inds: list[str]) -> str:
        return "(" + " OR ".join(
            f"{col} LIKE '%{i}%'" for i in inds) + ")"

    has_cols = ",\n                   ".join(
        f"MAX(CASE WHEN {_like_any('lt', inds)} THEN 1 ELSE 0 END)"
        f" AS has_{t}"
        for t, inds in CONTENT_TYPE_INDICATORS.items())
    m_proc = _like_any("lt", ["process", "method", "procedure"])
    m_causal = _like_any("lt", ["cause", "effect", "result"])
    expected_sql = {
        "definition": "TRUE", "example": "TRUE",
        "process": "m_proc = 1",
        "cause": "m_causal = 1", "effect": "m_causal = 1",
        "comparison": "FALSE",
    }
    unpivot = "\n            UNION ALL ".join(
        f"SELECT topic, '{t}' AS missing_type, n_docs, "
        f"CAST({_GAP_BASE_PRIORITY[t]} AS DOUBLE) AS base FROM g "
        f"WHERE ({expected_sql[t]}) AND has_{t} = 0"
        for t in CONTENT_TYPE_INDICATORS)
    sql["q82_content_gaps"] = f"""
        WITH low AS (
            SELECT source AS topic, lower(text) AS lt FROM documents
        ),
        g AS (
            SELECT topic, COUNT(*) AS n_docs,
                   {has_cols},
                   MAX(CASE WHEN {m_proc} THEN 1 ELSE 0 END) AS m_proc,
                   MAX(CASE WHEN {m_causal} THEN 1 ELSE 0 END) AS m_causal
            FROM low GROUP BY topic
        ),
        miss AS (
            {unpivot}
        )
        SELECT topic, missing_type, n_docs,
               CASE WHEN missing_type = 'definition' AND n_docs > 0
                         THEN 'critical'
                    WHEN missing_type IN ('example', 'process')
                         AND n_docs >= 3 THEN 'high'
                    WHEN missing_type IN ('cause', 'effect')
                         AND n_docs >= 2 THEN 'medium'
                    ELSE 'low' END AS severity,
               ROUND(base * (0.7 + 0.3 * LEAST(n_docs / 5.0, 1.0)), 6)
                   AS priority_score
        FROM miss
        ORDER BY topic, missing_type
    """

    detail_inds = ["specifically", "detailed", "comprehensive", "thorough",
                   "in particular", "furthermore", "moreover", "additionally"]
    detail_n = " + ".join(
        f"(CASE WHEN lower(text) LIKE '%{i}%' THEN 1 ELSE 0 END)"
        for i in detail_inds)
    sql["q83_depth_gaps"] = f"""
        WITH scored AS (
            SELECT doc_id,
                   ROUND(LEAST(
                     0.3 * LEAST(length(text) / 500.0, 1.0)
                   + 0.2 * LEAST((len(regexp_extract_all(text, '\\S+'))
                                  / (len(regexp_extract_all(text, '[.!?]+'))
                                     + 1)) / 15.0, 1.0)
                   + 0.2 * LEAST(({detail_n}) / 3.0, 1.0)
                   + 0.3 * LEAST((len(regexp_extract_all(text,
                                      '\\b[A-Z]{{2,}}\\b'))
                                  + len(regexp_extract_all(text,
                                        '\\d+(?:\\.\\d+)?'))
                                  + len(regexp_extract_all(text,
                                        '\\b\\w+ly\\b'))) / 10.0, 1.0),
                     1.0), 6) AS depth_score
            FROM documents
        )
        SELECT doc_id, depth_score, 'medium' AS severity,
               ROUND(0.5 + depth_score * 0.3, 6) AS priority_score
        FROM scored WHERE depth_score < 0.4
        ORDER BY doc_id
    """

    # q84: same deterministic 8-word re-lining, hot-line set = trimmed
    # lines in >= 2 distinct docs, drop everywhere, rebuild in order.
    sql["q84_line_dedup"] = """
        WITH relined AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       range(0, CAST(ceil(len(w) / 8.0) AS INT)),
                       i -> array_to_string(w[i*8+1 : i*8+8], ' ')),
                       chr(10)) AS text
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
        ),
        lines AS (
            SELECT doc_id,
                   generate_subscripts(l, 1) AS pos,
                   unnest(l) AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS l
                  FROM relined)
        ),
        hot AS (
            SELECT trim(line) AS key FROM lines
            WHERE length(trim(line)) >= 1
            GROUP BY trim(line)
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        flagged AS (
            SELECT doc_id, pos, line,
                   (length(trim(line)) >= 1
                    AND trim(line) IN (SELECT key FROM hot)) AS dropped
            FROM lines
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dropped
            FROM flagged GROUP BY doc_id
        ),
        rebuilt AS (
            SELECT doc_id,
                   array_to_string(list(line ORDER BY pos), chr(10)) AS text
            FROM flagged WHERE NOT dropped GROUP BY doc_id
        )
        SELECT s.doc_id, md5(COALESCE(r.text, '')) AS text_hash,
               s.n_lines, s.n_dropped
        FROM stats s LEFT JOIN rebuilt r ON s.doc_id = r.doc_id
        ORDER BY s.doc_id
    """

    # q85: same first-16 IVF seeding + max-cosine assignment as q36,
    # then per-cell rank by centroid_sim ASC and the one-pass
    # upper-triangular prior-similarity max.
    sql["q85_semdedup"] = """
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        assign AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell, s.centroid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                       s.centroid) DESC,
                                s.cell ASC) AS pick
            FROM embeddings e, seeds s
        ),
        cells AS (
            SELECT vec_id, v, cell,
                   list_cosine_similarity(v, centroid) AS centroid_sim
            FROM assign WHERE pick = 1
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY cell
                       ORDER BY centroid_sim ASC, vec_id ASC) AS rk
            FROM cells
        ),
        prior AS (
            SELECT b.vec_id,
                   MAX(list_cosine_similarity(a.v, b.v)) AS max_prior_sim
            FROM ranked a JOIN ranked b
              ON a.cell = b.cell AND a.rk < b.rk
            GROUP BY b.vec_id
        )
        SELECT r.vec_id, r.cell,
               ROUND(r.centroid_sim, 6) AS centroid_sim,
               ROUND(p.max_prior_sim, 6) AS max_prior_sim,
               (p.max_prior_sim IS NULL OR p.max_prior_sim < 0.35)
                   AS is_kept
        FROM ranked r LEFT JOIN prior p ON r.vec_id = p.vec_id
        ORDER BY r.vec_id
    """

    # q86: same tokenization as q63's TOKS_CTE, unigram+bigram features,
    # q65's strpos-based md5→int bucket hash mod 8192, Laplace-smoothed
    # per-bucket ln ratios quantized to BIGINT micro-units
    # (FLOOR(x*1e6+0.5) — pure double arithmetic, no engine ROUND),
    # integer-summed per doc.
    sql["q86_dsir_weights"] = f"""
        WITH {TOKS_CTE},
        feats AS (
            SELECT doc_id, unnest(list_concat(
                toks,
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(0, len(toks) - 1),
                        i -> toks[i+1] || ' ' || toks[i+2])
                ELSE [] END)) AS g
            FROM toks_t
        ),
        bucketed AS (
            SELECT f.doc_id, d.lang,
                   CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                              substr(md5(f.g), j::INT + 1, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) % 8192 AS b
            FROM feats f JOIN documents d USING (doc_id)
        ),
        raw_c AS (SELECT b, COUNT(*) AS n_raw FROM bucketed GROUP BY 1),
        tgt_c AS (SELECT b, COUNT(*) AS n_tgt FROM bucketed
                  WHERE lang = 'en' GROUP BY 1),
        tot AS (SELECT (SELECT SUM(n_raw) FROM raw_c) AS tr,
                       (SELECT SUM(n_tgt) FROM tgt_c) AS tt),
        ratio AS (
            SELECT COALESCE(r.b, t.b) AS b,
                   CAST(FLOOR((
                       ln((COALESCE(t.n_tgt, 0) + 1.0) / (tt + 1.0 * 8192))
                     - ln((COALESCE(r.n_raw, 0) + 1.0) / (tr + 1.0 * 8192))
                       ) * 1000000.0 + 0.5) AS BIGINT) AS log_ratio
            FROM raw_c r FULL JOIN tgt_c t ON r.b = t.b, tot
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
               CAST(SUM(log_ratio) AS BIGINT) AS log_weight
        FROM bucketed JOIN ratio USING (b)
        GROUP BY doc_id ORDER BY doc_id
    """

    # q87: hot 20-token windows (≥2 distinct docs) → start positions →
    # running-max coverage per doc → rebuild from surviving tokens.
    # pos is 0-based to mirror posexplode.
    sql["q87_substring_dedup"] = f"""
        WITH {TOKS_CTE},
        tok_rows AS (
            SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
                   unnest(toks) AS tok
            FROM toks_t
        ),
        wins AS (
            SELECT doc_id, i,
                   md5(array_to_string(toks[i+1:i+20], ' ')) AS h
            FROM toks_t, UNNEST(range(0, len(toks) - 20 + 1)) AS t(i)
            WHERE len(toks) >= 20
        ),
        hot AS (
            SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        starts AS (
            SELECT doc_id, i FROM wins WHERE h IN (SELECT h FROM hot)
        ),
        cov AS (
            SELECT t.doc_id, t.pos, t.tok,
                   MAX(s.i) OVER (PARTITION BY t.doc_id
                                  ORDER BY t.pos) AS last_start
            FROM tok_rows t LEFT JOIN starts s
              ON t.doc_id = s.doc_id AND t.pos = s.i
        ),
        flagged AS (
            SELECT doc_id, pos, tok,
                   (last_start IS NOT NULL
                    AND last_start >= pos - 20 + 1) AS dropped
            FROM cov
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed
            FROM flagged GROUP BY doc_id
        ),
        rebuilt AS (
            SELECT doc_id,
                   array_to_string(list(tok ORDER BY pos), ' ') AS text
            FROM flagged WHERE NOT dropped GROUP BY doc_id
        )
        SELECT s.doc_id, md5(COALESCE(r.text, '')) AS text_hash,
               s.n_tokens, s.n_removed
        FROM stats s LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY s.doc_id
    """

    # q88: hashed-bucket bigram LM trained on lang='en' rows, add-0.1
    # smoothing over 65536 buckets, per-a backoff then global unseen
    # constant; BIGINT micro-unit log-prob sum (FLOOR(x*1e6+0.5)),
    # one double division + floor-quantized presentation at the end.
    # tokenize→bucket→bigram→model→scored CTE chain shared by q88 and
    # q108 (the CCNet bucket split re-ranks the same perplexities).
    lm_scored_ctes = f"""tok_rows AS (
            SELECT doc_id, pos,
                   CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                              substr(md5(tok), j::INT + 1, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) % 65536 AS tok
            FROM (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
                         unnest(toks) AS tok
                  FROM toks_t)
        ),
        bi AS (
            SELECT t1.doc_id, t1.pos, t1.tok AS a, t2.tok AS b
            FROM tok_rows t1 JOIN tok_rows t2
              ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        ),
        tgt_bi AS (
            SELECT a, b, COUNT(*) AS c_ab
            FROM bi JOIN documents d USING (doc_id)
            WHERE d.lang = 'en' GROUP BY 1, 2
        ),
        tgt_uni AS (SELECT a, SUM(c_ab) AS c_a FROM tgt_bi GROUP BY 1),
        model AS (
            SELECT a, b, CAST(FLOOR(ln((c_ab + 0.1) / (c_a + 0.1 * 65536))
                              * 1000000.0 + 0.5) AS BIGINT) AS log_p
            FROM tgt_bi JOIN tgt_uni USING (a)
        ),
        back AS (
            SELECT a, CAST(FLOOR(ln(0.1 / (c_a + 0.1 * 65536))
                           * 1000000.0 + 0.5) AS BIGINT) AS log_backoff
            FROM tgt_uni
        ),
        scored AS (
            SELECT bi.doc_id,
                   COALESCE(m.log_p, k.log_backoff,
                            CAST(FLOOR(-ln(65536) * 1000000.0 + 0.5)
                                 AS BIGINT)) AS lp
            FROM bi LEFT JOIN model m ON bi.a = m.a AND bi.b = m.b
                    LEFT JOIN back k ON bi.a = k.a
        )"""

    sql["q88_lm_perplexity"] = f"""
        WITH {TOKS_CTE},
        {lm_scored_ctes},
        ent_t AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   -(CAST(SUM(lp) AS DOUBLE) / 1000000.0) / COUNT(*)
                       AS ent
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams,
               FLOOR(ent * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy,
               FLOOR(exp(ent) * 10000.0 + 0.5) / 10000.0 AS ppl
        FROM ent_t ORDER BY doc_id
    """

    # q108: the same perplexities dealt into per-language terciles with
    # a full (ppl, doc_id) tiebreak — the tile assignment is a total
    # order, so NTILE agrees across engines.
    sql["q108_ccnet_buckets"] = f"""
        WITH {TOKS_CTE},
        {lm_scored_ctes},
        ppl_t AS (
            SELECT doc_id,
                   FLOOR(exp(-(CAST(SUM(lp) AS DOUBLE) / 1000000.0)
                             / COUNT(*)) * 10000.0 + 0.5) / 10000.0
                       AS ppl
            FROM scored GROUP BY doc_id
        )
        SELECT p.doc_id, d.lang, p.ppl,
               ['head', 'middle', 'tail'][NTILE(3) OVER (
                   PARTITION BY d.lang
                   ORDER BY p.ppl ASC, p.doc_id ASC)] AS bucket
        FROM ppl_t p JOIN documents d USING (doc_id)
        ORDER BY p.doc_id
    """

    # q89: generated like the CMS/HLL oracles — the k probe positions
    # unroll in Python so Spark and SQL share the exact construction.
    def _hex2int(expr):
        return ("CAST(list_sum(list_transform(range(0, 8), j -> "
                "(strpos('0123456789abcdef', substr(md5(" + expr + "), "
                "j::INT + 1, 1)) - 1) * power(16, 7 - j))) AS BIGINT)")

    def _pos(i, val):
        return (_hex2int(f"'bloom{i}:' || CAST({val} AS VARCHAR)")
                + " % 65536")

    probe_cond = " AND ".join(
        f"((words[CAST(({_pos(i, 'o_custkey')}) // 32 AS INT) + 1] "
        f">> CAST(({_pos(i, 'o_custkey')}) % 32 AS INT)) & 1) = 1"
        for i in range(4))
    pos_union = " UNION ALL ".join(
        f"SELECT {_pos(i, 'c_custkey')} AS p FROM bcust" for i in range(4))
    sql["q89_bloom_membership"] = f"""
        WITH bcust AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        pos AS ({pos_union}),
        word_rows AS (
            SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT))
                       AS bits
            FROM pos GROUP BY 1
        ),
        bitmap AS (
            SELECT list(COALESCE(b.bits, 0) ORDER BY r.range) AS words
            FROM range(0, 2048) r LEFT JOIN word_rows b ON b.w = r.range
        ),
        probed AS (
            SELECT o.o_custkey, ({probe_cond}) AS maybe,
                   (o.o_custkey IN (SELECT c_custkey FROM bcust))
                       AS is_member
            FROM orders o, bitmap
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
               CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_maybe,
               CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_members,
               CAST(SUM(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_false_positives
        FROM probed
    """

    # q90: five LPA rounds unrolled (argmax by cnt DESC, label ASC; on
    # the symmetrized graph every node receives, so no isolated
    # fallback — mirrors the operator exactly; the int dictionary
    # encoding is order-preserving so the string argmax here is
    # bit-identical to the operator's packed-long argmax).
    lpa_ctes = ["lpa_nodes AS (SELECT DISTINCT from_id AS node_id "
                "FROM edges_sym)",
                "l0 AS (SELECT node_id, node_id AS label FROM lpa_nodes)"]
    for i in range(1, 6):
        lpa_ctes.append(f"""c{i} AS (
            SELECT e.to_id AS node_id, l.label, COUNT(*) AS cnt
            FROM edges_sym e JOIN l{i-1} l ON e.from_id = l.node_id
            GROUP BY 1, 2)""")
        lpa_ctes.append(f"""l{i} AS (
            SELECT n.node_id, COALESCE(w.label, n.node_id) AS label
            FROM lpa_nodes n LEFT JOIN (
                SELECT node_id, label FROM (
                    SELECT node_id, label, ROW_NUMBER() OVER (
                        PARTITION BY node_id
                        ORDER BY cnt DESC, label ASC) AS rk
                    FROM c{i}) WHERE rk = 1) w USING (node_id))""")
    sql["q90_label_propagation"] = (
        f"WITH {EDGES_CTE}, " + ", ".join(lpa_ctes)
        + " SELECT node_id, label FROM l5 ORDER BY node_id")

    # q91: identical log-bucket construction — floor(ln·100) buckets,
    # cumulative counts, first bucket reaching q·N, geometric midpoint.
    sql["q91_hdr_quantiles"] = """
        WITH counts AS (
            SELECT o_orderpriority,
                   CAST(floor(ln(o_totalprice) * 100) AS BIGINT) AS b,
                   COUNT(*) AS n
            FROM orders WHERE o_totalprice > 0
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT o_orderpriority, b,
                   SUM(n) OVER (PARTITION BY o_orderpriority
                                ORDER BY b) AS cum,
                   SUM(n) OVER (PARTITION BY o_orderpriority) AS total
            FROM counts
        ),
        qs AS (SELECT unnest([0.5, 0.95, 0.99]::DOUBLE[]) AS q)
        SELECT o_orderpriority, q,
               ROUND(exp((MIN(b) + 0.5) / 100), 6) AS est
        FROM cum, qs WHERE cum >= q * total
        GROUP BY o_orderpriority, q
        ORDER BY o_orderpriority, q
    """

    # q92: same deletion-neighborhood construction, exact levenshtein
    # verify (both engines ship the same Wagner-Fischer distance);
    # the OCR-noise batch (every 7th doc, drop char at 1+doc_id%len)
    # mirrors the Spark workload exactly.
    sql["q92_fuzzy_terms"] = f"""
        WITH {TOKS_CTE},
        tok_rows AS (
            SELECT doc_id, unnest(toks) AS term FROM toks_t
        ),
        typos AS (
            SELECT substr(term, 1, (1 + doc_id % length(term))::INT - 1)
                   || substr(term, (1 + doc_id % length(term))::INT + 1,
                             length(term)) AS t
            FROM tok_rows
            WHERE doc_id % 7 = 0 AND length(term) >= 3
        ),
        terms AS (
            SELECT DISTINCT t
            FROM (SELECT term AS t FROM tok_rows
                  UNION ALL SELECT t FROM typos)
        ),
        terms_f AS (
            SELECT t FROM terms WHERE length(t) > 0 AND length(t) <= 24
        ),
        keys AS (
            SELECT t, unnest(list_distinct(list_concat([t],
                list_transform(range(1, length(t) + 1),
                    i -> substr(t, 1, i::INT - 1)
                         || substr(t, i::INT + 1, length(t)))))) AS k
            FROM terms_f
        ),
        cand AS (
            SELECT DISTINCT a.t AS a, b.t AS b
            FROM keys a JOIN keys b USING (k) WHERE a.t < b.t
        )
        SELECT a, b, CAST(levenshtein(a, b) AS INT) AS dist
        FROM cand WHERE levenshtein(a, b) <= 1
        ORDER BY a, b
    """

    # q93: the z-value expression is GENERATED from the same module as
    # the Spark key (layout.zorder_key_sql), so the two cannot drift.
    from memory_engine_spark.functions.layout import zorder_key_sql
    zsql = zorder_key_sql(
        ["o_custkey",
         "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"],
        bits=16)
    sql["q93_zorder_cells"] = f"""
        WITH z AS (
            SELECT {zsql} // {1 << 22} AS cell, o_custkey,
                   date_diff('day', DATE '1995-01-01',
                             CAST(o_orderdate AS DATE)) AS d
            FROM orders
        )
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
               CAST(MIN(d) AS INT) AS min_day,
               CAST(MAX(d) AS INT) AS max_day
        FROM z GROUP BY cell
        ORDER BY n DESC, cell ASC LIMIT 20
    """

    # q94: same union-and-carry gap-fill — grid rows (NULL ord) sort
    # after same-slot observations, last(v IGNORE NULLS) carries, the
    # grid row wins the per-slot dedup.
    sql["q94_resample_ffill"] = """
        WITH obs AS (
            SELECT user_id AS k, epoch_us(ts) // 21600000000 AS slot,
                   epoch_us(ts) AS ord, value AS v
            FROM events WHERE user_id < 20
        ),
        spans AS (
            SELECT k, MIN(slot) AS lo, MAX(slot) AS hi FROM obs GROUP BY k
        ),
        grid AS (
            SELECT k, unnest(range(lo, hi + 1)) AS slot,
                   CAST(NULL AS BIGINT) AS ord, CAST(NULL AS DOUBLE) AS v
            FROM spans
        ),
        unioned AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
        filled AS (
            SELECT k, slot, ord,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY k
                       ORDER BY slot ASC, ord ASC NULLS LAST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS v
            FROM unioned
        ),
        dedup AS (
            SELECT k, slot, v, ROW_NUMBER() OVER (
                       PARTITION BY k, slot
                       ORDER BY ord DESC NULLS FIRST) AS rn
            FROM filled
        )
        SELECT k AS user_id, make_timestamp(slot * 21600000000) AS ts,
               ROUND(v, 6) AS value
        FROM dedup WHERE rn = 1
        ORDER BY user_id, ts
    """

    # q95: three k-core peels (k=3) unrolled.
    kcore_ctes = ["e0 AS (SELECT from_id, to_id FROM edges_sym)"]
    for i in range(1, 4):
        kcore_ctes.append(
            f"""k{i} AS (
                SELECT from_id FROM e{i-1}
                GROUP BY from_id HAVING COUNT(*) >= 3)""")
        kcore_ctes.append(
            f"""e{i} AS (
                SELECT e.from_id, e.to_id FROM e{i-1} e
                JOIN k{i} a ON e.from_id = a.from_id
                JOIN k{i} b ON e.to_id = b.from_id)""")
    sql["q95_kcore"] = (
        f"WITH {EDGES_CTE}, " + ", ".join(kcore_ctes)
        + """ SELECT from_id AS node_id, CAST(COUNT(*) AS BIGINT) AS degree
          FROM e3 GROUP BY from_id ORDER BY node_id""")

    # q96: four Bellman-Ford relaxations unrolled; weights derive from
    # relation_type exactly as the Spark side does.
    sssp_ctes = ["""wadj AS (
            SELECT from_id, to_id,
                   ((length(relation_type) % 7) + 1) / 10.0 AS w
            FROM edges_sym)""",
                 "d0 AS (SELECT 'c_1' AS node_id, 0.0 AS dist)"]
    for i in range(1, 5):
        sssp_ctes.append(f"""d{i} AS (
            SELECT node_id, MIN(dist) AS dist FROM (
                SELECT node_id, dist FROM d{i-1}
                UNION ALL
                SELECT e.to_id AS node_id, d.dist + e.w AS dist
                FROM wadj e JOIN d{i-1} d ON e.from_id = d.node_id
            ) GROUP BY node_id)""")
    sql["q96_weighted_sssp"] = (
        f"WITH {EDGES_CTE}, " + ", ".join(sssp_ctes)
        + " SELECT node_id, ROUND(dist, 6) AS dist FROM d4 ORDER BY node_id")

    # q97: sparse PPR unrolled; teleport mass written as the same float
    # EXPRESSION (1.0 - 0.85) / 2 the Spark side computes, because the
    # literal 0.075 is a DIFFERENT double than Python's (1.0-0.85)/2.
    ppr_ctes = ["""ppw AS (
            SELECT from_id, to_id,
                   1.0 / COUNT(*) OVER (PARTITION BY from_id) AS w
            FROM edges_sym)""",
                """tele AS (SELECT unnest(['c_1', 's_1']) AS node_id,
                            (1.0 - 0.85) / 2 AS rank)""",
                """pp0 AS (SELECT unnest(['c_1', 's_1']) AS node_id,
                           1.0 / 2 AS rank)"""]
    for i in range(1, 6):
        ppr_ctes.append(f"""pp{i} AS (
            SELECT node_id, SUM(rank) AS rank FROM (
                SELECT w.to_id AS node_id, 0.85 * r.rank * w.w AS rank
                FROM ppw w JOIN pp{i-1} r ON r.node_id = w.from_id
                UNION ALL SELECT node_id, rank FROM tele
            ) GROUP BY node_id)""")
    sql["q97_personalized_pagerank"] = (
        f"WITH {EDGES_CTE}, " + ", ".join(ppr_ctes)
        + """ SELECT node_id, ROUND(rank, 6) AS rank FROM pp5
          ORDER BY ROUND(rank, 6) DESC, node_id ASC LIMIT 30""")

    # q98: 2 integer HITS rounds unrolled over the DIRECTED edges.
    hits_ctes = ["""hn AS (
            SELECT DISTINCT node_id FROM (
                SELECT from_id AS node_id FROM edges
                UNION ALL SELECT to_id FROM edges))""",
                 "a0 AS (SELECT node_id, 1::BIGINT AS a FROM hn)"]
    for i in range(1, 3):
        hits_ctes.append(f"""h{i} AS (
            SELECT e.from_id AS node_id, SUM(x.a) AS h
            FROM edges e JOIN a{i-1} x ON e.to_id = x.node_id
            GROUP BY 1)""")
        hits_ctes.append(f"""a{i} AS (
            SELECT e.to_id AS node_id, SUM(x.h) AS a
            FROM edges e JOIN h{i} x ON e.from_id = x.node_id
            GROUP BY 1)""")
    sql["q98_hits"] = (
        f"WITH {EDGES_CTE}, " + ", ".join(hits_ctes)
        + """ SELECT n.node_id,
                 CAST(COALESCE(h.h, 0) AS BIGINT) AS hub,
                 CAST(COALESCE(a.a, 0) AS BIGINT) AS authority
          FROM hn n LEFT JOIN h2 h ON n.node_id = h.node_id
                    LEFT JOIN a2 a ON n.node_id = a.node_id
          ORDER BY authority DESC, n.node_id ASC LIMIT 30""")

    # q99: q80's A-ES key, ranked per stratum instead of globally.
    sql["q99_stratified_quota_sample"] = """
        WITH keyed AS (
            SELECT source, doc_id, n_chars,
                   -ln((CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                              substr(md5('aes:' || CAST(doc_id AS VARCHAR)),
                                     1 + j::INT, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) + 1)
                        / 4294967296.0)
                   / CAST(n_chars AS DOUBLE) AS _k
            FROM documents
            WHERE n_chars > 0
        ),
        ranked AS (
            SELECT source, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY _k ASC, doc_id ASC) AS rn
            FROM keyed
        )
        SELECT source, doc_id, n_chars FROM ranked
        WHERE rn <= 5 ORDER BY source, doc_id
    """

    # q100: same tf·idf construction, decimal-summed norms/dots.
    sql["q100_tfidf_search"] = f"""
        WITH {TOKS_CTE},
        tf AS (
            SELECT doc_id, unnest(toks) AS term FROM toks_t
        ),
        tfc AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2
        ),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        dfreq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tfc GROUP BY 1
        ),
        w AS (
            SELECT t.doc_id, t.term,
                   t.tf * (ln((SELECT n + 1.0 FROM nn) / (d.df_t + 1.0))
                           + 1.0) AS w
            FROM tfc t JOIN dfreq d USING (term)
        ),
        norms AS (
            SELECT doc_id,
                   sqrt(CAST(SUM(CAST(ROUND(w * w, 6) AS DECIMAL(28,6)))
                        AS DOUBLE)) AS nrm
            FROM w GROUP BY doc_id
        ),
        qw AS (
            SELECT term, ln((SELECT n + 1.0 FROM nn) / (df_t + 1.0)) + 1.0
                       AS qw
            FROM dfreq
            WHERE term IN ('spark', 'join', 'filter', 'stream')
        ),
        qn AS (
            SELECT sqrt(CAST(SUM(CAST(ROUND(qw * qw, 6) AS DECIMAL(28,6)))
                        AS DOUBLE)) AS qnrm
            FROM qw
        ),
        dots AS (
            SELECT w.doc_id,
                   CAST(SUM(CAST(ROUND(w.w * q.qw, 6) AS DECIMAL(28,6)))
                        AS DOUBLE) AS dot
            FROM w JOIN qw q USING (term)
            GROUP BY w.doc_id
        )
        SELECT d.doc_id, ROUND(d.dot / (n.nrm * (SELECT qnrm FROM qn)), 6)
                   AS score
        FROM dots d JOIN norms n USING (doc_id)
        ORDER BY score DESC, d.doc_id ASC LIMIT 20
    """

    # q101: 4 walk steps unrolled; each step picks the smallest
    # md5('walk:'||walk||':'||step||':'||cand) draw, ties to smaller id.
    walk_ctes = ["""w0 AS (
            SELECT s.s || '#' || w.w AS walk_id, s.s AS start,
                   s.s AS cur, s.s AS path
            FROM (SELECT unnest(['c_1','c_2','c_3','c_4','c_5']) AS s) s,
                 (SELECT unnest(['0','1']) AS w) w)"""]
    for i in range(1, 5):
        walk_ctes.append(f"""w{i} AS (
            SELECT walk_id, start, nxt AS cur,
                   path || '->' || nxt AS path
            FROM (
                SELECT c.walk_id, c.start, c.path, e.to_id AS nxt,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.walk_id
                           ORDER BY md5('walk:' || c.walk_id || ':{i}:'
                                        || e.to_id) ASC,
                                    e.to_id ASC) AS rn
                FROM w{i-1} c JOIN edges_sym e ON e.from_id = c.cur)
            WHERE rn = 1)""")
    sql["q101_random_walks"] = (
        f"WITH {EDGES_CTE}, " + ", ".join(walk_ctes)
        + " SELECT walk_id, start, path FROM w4 ORDER BY walk_id")

    # q102: earliest-greedy funnel, each stage the min event time
    # strictly after the previous stage's pick.
    sql["q102_funnel"] = """
        WITH s1 AS (
            SELECT user_id AS k, MIN(ts) AS t FROM events
            WHERE event_type = 'signup' GROUP BY 1
        ),
        s2 AS (
            SELECT e.user_id AS k, MIN(e.ts) AS t
            FROM events e JOIN s1 ON e.user_id = s1.k
            WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
        ),
        s3 AS (
            SELECT e.user_id AS k, MIN(e.ts) AS t
            FROM events e JOIN s2 ON e.user_id = s2.k
            WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1
        ),
        s4 AS (
            SELECT e.user_id AS k, MIN(e.ts) AS t
            FROM events e JOIN s3 ON e.user_id = s3.k
            WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1
        )
        SELECT s1.k AS user_id,
               CASE WHEN s4.t IS NOT NULL THEN 4
                    WHEN s3.t IS NOT NULL THEN 3
                    WHEN s2.t IS NOT NULL THEN 2 ELSE 1 END AS n_steps,
               s1.t AS step1_ts,
               COALESCE(s4.t, s3.t, s2.t, s1.t) AS last_ts
        FROM s1 LEFT JOIN s2 ON s1.k = s2.k
                LEFT JOIN s3 ON s2.k = s3.k
                LEFT JOIN s4 ON s3.k = s4.k
        ORDER BY user_id
    """

    # q103: weekly cohorts from first activity, distinct-active counts
    # per (cohort, offset).
    sql["q103_cohort_retention"] = """
        WITH acts AS (
            SELECT DISTINCT user_id AS k,
                   epoch_us(ts) // 604800000000 AS p
            FROM events
        ),
        first AS (SELECT k, MIN(p) AS cohort FROM acts GROUP BY k),
        sizes AS (SELECT cohort, COUNT(*) AS cohort_size
                  FROM first GROUP BY cohort),
        ret AS (
            SELECT f.cohort, a.p - f.cohort AS period_offset,
                   COUNT(DISTINCT a.k) AS n_active
            FROM acts a JOIN first f ON a.k = f.k
            GROUP BY 1, 2
        )
        SELECT r.cohort, r.period_offset,
               CAST(r.n_active AS BIGINT) AS n_active,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               ROUND(r.n_active / CAST(s.cohort_size AS DOUBLE), 6)
                   AS retention
        FROM ret r JOIN sizes s ON r.cohort = s.cohort
        ORDER BY r.cohort, r.period_offset
    """

    # q104: two recursive-CTE BFS passes; UNION (distinct) keeps the
    # working set at (node, hop) pairs — no path enumeration.
    sql["q104_diameter"] = f"""
        WITH RECURSIVE {EDGES_CTE},
        bfs1 AS (
            SELECT 'c_1' AS node_id, 0 AS hop
            UNION
            SELECT e.to_id, b.hop + 1
            FROM bfs1 b JOIN edges_sym e ON e.from_id = b.node_id
            WHERE b.hop < 12
        ),
        ecc1 AS (
            SELECT node_id, MIN(hop) AS h FROM bfs1 GROUP BY node_id
        ),
        far AS (
            SELECT node_id FROM ecc1
            ORDER BY h DESC, node_id ASC LIMIT 1
        ),
        bfs2 AS (
            SELECT node_id, 0 AS hop FROM far
            UNION
            SELECT e.to_id, b.hop + 1
            FROM bfs2 b JOIN edges_sym e ON e.from_id = b.node_id
            WHERE b.hop < 12
        ),
        ecc2 AS (
            SELECT node_id, MIN(hop) AS h FROM bfs2 GROUP BY node_id
        )
        SELECT (SELECT node_id FROM far) AS sweep2_start,
               CAST(MAX(h) AS INT) AS diameter_lb,
               CAST(COUNT(*) AS BIGINT) AS n_reached
        FROM ecc2
    """

    # q105: same decimal-exact rolling sums; ties in ts break by
    # event_id in the frame order on both sides.
    sql["q105_rolling_zscore"] = """
        WITH x AS (
            SELECT user_id, ts, value,
                   CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                        OVER w AS DOUBLE) AS s1,
                   CAST(SUM(CAST(CAST(ROUND(value, 6) AS DECIMAL(18,6))
                                 * CAST(ROUND(value, 6) AS DECIMAL(18,6))
                                 AS DECIMAL(38,12)))
                        OVER w AS DOUBLE) AS s2,
                   CAST(COUNT(*) OVER w AS DOUBLE) AS n
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        ),
        scored AS (
            SELECT user_id, ts, value,
                   ROUND(s1 / n, 6) AS mean_w,
                   ROUND(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0)),
                         6) AS std_w,
                   ROUND((value - s1 / n)
                         / sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0)),
                         4) AS z,
                   n
            FROM x
        )
        SELECT user_id, ts, value, mean_w, std_w, z
        FROM scored
        WHERE n >= 10 AND std_w > 0 AND abs(z) > 2.5
        ORDER BY user_id, ts
    """

    # q106: wedge join at the (degree-capped) shared neighbor, decimal
    # addends, anti-join vs existing canonical edges.
    sql["q106_adamic_adar"] = f"""
        WITH {EDGES_CTE},
        canon AS (
            SELECT DISTINCT LEAST(from_id, to_id) AS u,
                   GREATEST(from_id, to_id) AS v
            FROM edges WHERE from_id <> to_id
        ),
        aa_adj AS (
            SELECT u AS from_id, v AS to_id FROM canon
            UNION ALL SELECT v, u FROM canon
        ),
        aa_deg AS (
            SELECT from_id, COUNT(*) AS d FROM aa_adj GROUP BY 1
        ),
        mids AS (
            SELECT from_id AS w,
                   CAST(FLOOR(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5)
                        AS BIGINT) AS aa
            FROM aa_deg WHERE d BETWEEN 2 AND 50
        ),
        nb AS (
            SELECT m.w, m.aa, a.to_id AS x
            FROM aa_adj a JOIN mids m ON a.from_id = m.w
        ),
        pairs AS (
            SELECT l.x AS u, r.x AS v, l.aa
            FROM nb l JOIN nb r ON l.w = r.w AND l.aa = r.aa
            WHERE l.x < r.x
        ),
        agg AS (
            SELECT u, v, SUM(aa) AS s FROM pairs GROUP BY u, v
        ),
        scored AS (
            SELECT p.u, p.v, p.s
            FROM agg p LEFT JOIN canon c
              ON p.u = c.u AND p.v = c.v
            WHERE c.u IS NULL
        )
        SELECT u AS a, v AS b,
               CAST(s AS DOUBLE) / 1000000.0 AS score
        FROM scored
        ORDER BY score DESC, a ASC, b ASC LIMIT 30
    """

    # q107: the four recommendation generators over the SHARED content
    # CTE (q54), the q32 contradiction shape, the q81 capped-Jaccard
    # pair shape, and the q37 reliability aggregate — unioned, ranked
    # by the reference's (priority-string, -expected_improvement) key
    # (quality_enhancement_engine.py:648 sorts by the enum VALUE, i.e.
    # alphabetically — reproduced as-is), ties canonicalized by
    # (action, item_id), top 20.
    sql["q107_enhancement_plan"] = f"""
        WITH {TOKS_CTE},
        {content_comp},
        cprep AS (
            SELECT doc_id,
                   list_filter(list_distinct(toks),
                       x -> NOT list_contains({_STOPWORDS_SQL}, x)
                            AND NOT list_contains({_NEG_SQL}, x)) AS w,
                   len(list_intersect(list_distinct(toks), {_NEG_SQL})) > 0
                       AS has_neg
            FROM toks_t
        ),
        cex AS (SELECT doc_id, unnest(w) AS k FROM cprep),
        csz AS (SELECT doc_id, len(w) AS sz, has_neg FROM cprep),
        cpair AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM cex a JOIN cex b ON a.k = b.k AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        contra AS (
            SELECT a, b
            FROM cpair JOIN csz sa ON sa.doc_id = a
                       JOIN csz sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.7
              AND sa.has_neg <> sb.has_neg
        ),
        conflicted AS (
            SELECT DISTINCT CAST(x AS VARCHAR) AS item_id
            FROM (SELECT a AS x FROM contra
                  UNION ALL SELECT b FROM contra)
        ),
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                               i -> array_to_string(toks[i+1:i+3], ' '))
            )) AS shingle
            FROM toks_t
        ),
        kept AS (
            SELECT doc_id, shingle FROM sh
            WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= 50)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
        common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sim AS (
            SELECT a, b
            FROM common JOIN sizes sa ON sa.doc_id = a
                        JOIN sizes sb ON sb.doc_id = b
            WHERE c / (sa.sz + sb.sz - c) >= 0.3
        ),
        isolated AS (
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT a FROM sim)
              AND doc_id NOT IN (SELECT b FROM sim)
        ),
        relagg AS (
            SELECT d.source, COUNT(*) AS n_items,
                   AVG(ROUND(s.cs, 6)) AS avg_q,
                   COALESCE(stddev_samp(ROUND(s.cs, 6)), 0.0) AS sd_q
            FROM scored s JOIN documents d USING (doc_id)
            GROUP BY d.source
        ),
        recs AS (
            SELECT CAST(doc_id AS VARCHAR) AS item_id,
                   'improve_content' AS action,
                   CASE WHEN ROUND(cs, 6) < 0.4 THEN 'high'
                        ELSE 'medium' END AS priority,
                   ROUND(0.6 - ROUND(cs, 6), 6) AS expected_improvement,
                   CAST(0.8 AS DOUBLE) AS confidence,
                   'medium' AS effort
            FROM scored WHERE ROUND(cs, 6) < 0.6
            UNION ALL
            SELECT item_id, 'resolve_contradiction', 'high',
                   CAST(0.3 AS DOUBLE), CAST(0.7 AS DOUBLE), 'high'
            FROM conflicted
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 'fill_gap', 'medium',
                   CAST(0.4 AS DOUBLE), CAST(0.6 AS DOUBLE), 'high'
            FROM isolated
            UNION ALL
            SELECT source, 'update_source', 'medium',
                   CAST(0.3 AS DOUBLE),
                   ROUND(LEAST(n_items / 100.0, CAST(1.0 AS DOUBLE)), 6),
                   'medium'
            FROM relagg
            WHERE ROUND(0.6 * avg_q
                        + 0.2 * GREATEST(CAST(0.0 AS DOUBLE), 1.0 - sd_q)
                        + 0.2 * LEAST(n_items / 100.0,
                                      CAST(1.0 AS DOUBLE)), 6) < 0.5
        )
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY priority ASC, expected_improvement DESC,
                            action ASC, item_id ASC) AS INTEGER) AS rank,
               item_id, action, priority, expected_improvement,
               confidence, effort
        FROM recs
        ORDER BY rank
        LIMIT 20
    """


    # q109: RRF over the q63 and q100 result sets — their full SELECTs
    # (including their own WITH chains) nest as CTE bodies, so the
    # fused oracle can never drift from the per-system oracles.
    sql["q109_rrf_fusion"] = f"""
        WITH bm AS ({sql["q63_bm25"]}),
        tf AS ({sql["q100_tfidf_search"]}),
        bmr AS (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY score DESC, doc_id ASC) AS r
            FROM bm
        ),
        tfr AS (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY score DESC, doc_id ASC) AS r
            FROM tf
        ),
        u AS (SELECT doc_id, r FROM bmr
              UNION ALL SELECT doc_id, r FROM tfr)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems,
               ROUND(SUM(1.0 / (60 + r)), 6) AS rrf_score
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 20
    """

    # q110: n^0.3 largest-remainder apportionment + per-source md5
    # draws; shares round to 6 dp before the quota arithmetic (pow is
    # engine-local floating point, same recipe as the ln() addends).
    sql["q110_temperature_mixture"] = """
        WITH counts AS (
            SELECT source, COUNT(*) AS n_source FROM documents GROUP BY 1
        ),
        tot AS (SELECT SUM(pow(n_source, 0.3)) AS tot FROM counts),
        share AS (
            SELECT source, n_source,
                   ROUND(pow(n_source, 0.3) / tot, 6) AS p
            FROM counts, tot
        ),
        base AS (
            SELECT source, n_source,
                   CAST(FLOOR(100.0 * p) AS BIGINT) AS base,
                   100.0 * p - FLOOR(100.0 * p) AS rem
            FROM share
        ),
        quota AS (
            SELECT source, n_source,
                   base + CASE WHEN ROW_NUMBER() OVER (
                              ORDER BY rem DESC, source ASC)
                          <= 100 - (SELECT SUM(base) FROM base)
                          THEN 1 ELSE 0 END AS quota
            FROM base
        ),
        drawn AS (
            SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)) ASC,
                                doc_id ASC) AS INTEGER) AS draw_rank
            FROM documents
        )
        SELECT d.doc_id, d.source, q.n_source, q.quota, d.draw_rank
        FROM drawn d JOIN quota q USING (source)
        WHERE d.draw_rank <= q.quota
        ORDER BY d.source, d.draw_rank
    """

    # q111: two unrolled BFS hops carrying one lexicographically
    # smallest path per node — candidates not yet visited, grouped by
    # node with MIN over the equal-length path lists (element-wise
    # list comparison, identical in both engines), exactly the
    # operator's groupBy-min + anti-join per hop.
    sql["q111_khop_paths"] = f"""
        WITH {EDGES_CTE},
        h0 AS (SELECT 'c_1' AS node_id, 0 AS hop_distance,
                      ['c_1']::VARCHAR[] AS path),
        h1 AS (
            SELECT s.to_id AS node_id, 1 AS hop_distance,
                   MIN(list_append(h.path, s.to_id)) AS path
            FROM h0 h JOIN edges_sym s ON s.from_id = h.node_id
            WHERE s.to_id NOT IN (SELECT node_id FROM h0)
            GROUP BY s.to_id
        ),
        h2 AS (
            SELECT s.to_id AS node_id, 2 AS hop_distance,
                   MIN(list_append(h.path, s.to_id)) AS path
            FROM h1 h JOIN edges_sym s ON s.from_id = h.node_id
            WHERE s.to_id NOT IN (SELECT node_id FROM h0
                                  UNION ALL SELECT node_id FROM h1)
            GROUP BY s.to_id
        ),
        allhops AS (
            SELECT * FROM h0 UNION ALL SELECT * FROM h1
            UNION ALL SELECT * FROM h2
        )
        SELECT node_id, CAST(hop_distance AS INT) AS hop_distance,
               array_to_string(path, '>') AS path
        FROM allhops ORDER BY node_id
    """

    # q112: conjunctive motif — one semi-join (EXISTS) per required
    # edge type, same shape as the operator.
    sql["q112_pattern_match"] = f"""
        WITH {EDGES_CTE},
        nodes AS (
            SELECT DISTINCT node_id FROM (
                SELECT from_id AS node_id FROM edges
                UNION ALL SELECT to_id FROM edges)
        )
        SELECT node_id FROM nodes n
        WHERE node_id LIKE 'o\\_%' ESCAPE '\\'
          AND EXISTS (SELECT 1 FROM edges e WHERE e.from_id = n.node_id
                      AND e.relation_type = 'contains')
          AND EXISTS (SELECT 1 FROM edges e WHERE e.from_id = n.node_id
                      AND e.relation_type = 'supplied_by')
          AND EXISTS (SELECT 1 FROM edges e WHERE e.to_id = n.node_id
                      AND e.relation_type = 'placed')
        ORDER BY node_id
    """

    # q113: the same 8 greedy-diversity rounds unrolled — per round,
    # pick the lowest-rank undecided row, drop undecided rows with
    # word-Jaccard >= 0.7 to it (identical int/int double division on
    # both engines, so relevance and the drop decisions agree
    # bit-for-bit).
    _div_sim = ("(CASE WHEN len(list_distinct(list_concat(u.words, "
                "p.words))) = 0 THEN 0.0 ELSE "
                "CAST(len(list_distinct(list_intersect(u.words, p.words)))"
                " AS DOUBLE) / len(list_distinct(list_concat(u.words, "
                "p.words))) END)")
    _div_rounds = []
    for _i in range(1, 9):
        _prev = f"u{_i - 1}"
        _div_rounds.append(
            f"p{_i} AS (SELECT * FROM {_prev} ORDER BY rnk LIMIT 1)")
        _div_rounds.append(
            f"u{_i} AS (SELECT u.doc_id, u.words, u.relevance, u.rnk "
            f"FROM {_prev} u, p{_i} p WHERE u.rnk > p.rnk "
            f"AND {_div_sim} < 0.7)")
    _div_kept = " UNION ALL ".join(
        f"SELECT doc_id, rnk, relevance, {_i} AS picked_round FROM p{_i}"
        for _i in range(1, 9))
    sql["q113_diverse_page"] = f"""
        WITH {TOKS_CTE},
        cand AS (
            SELECT doc_id, list_distinct(toks) AS words,
                   LEAST(CASE WHEN len(list_distinct(list_concat(
                            list_distinct(toks),
                            ['spark','join','filter','stream']))) = 0
                         THEN 0.0
                         ELSE CAST(len(list_distinct(list_intersect(
                                list_distinct(toks),
                                ['spark','join','filter','stream'])))
                              AS DOUBLE)
                              / len(list_distinct(list_concat(
                                list_distinct(toks),
                                ['spark','join','filter','stream'])))
                         END * 2.0, 1.0) AS relevance
            FROM toks_t
        ),
        u0 AS (
            SELECT doc_id, words, relevance,
                   CAST(ROW_NUMBER() OVER (ORDER BY relevance DESC,
                        doc_id ASC) AS INT) AS rnk
            FROM cand QUALIFY rnk <= 40
        ),
        {', '.join(_div_rounds)}
        SELECT doc_id, rnk, relevance, picked_round
        FROM ({_div_kept}) ORDER BY picked_round
    """

    # q114: the q67 IVF-blocked kNN-graph CTEs (k=8 here), then 3
    # unrolled beam rounds — expand the beam's out-neighbors, score
    # micro-quantized, keep top-8 by (sc DESC, vid ASC).
    _beam_rounds = []
    for _i in range(1, 4):
        _beam_rounds.append(
            f"f{_i} AS (SELECT DISTINCT g.nid AS vid "
            f"FROM b{_i - 1} b JOIN knng g ON g.qid = b.vid)")
        _beam_rounds.append(
            f"b{_i} AS (SELECT vid, MAX(sc) AS sc FROM "
            f"(SELECT vid, sc FROM b{_i - 1} UNION ALL "
            f"SELECT f.vid, s.sc FROM f{_i} f JOIN qscored s USING (vid)) "
            f"GROUP BY vid ORDER BY sc DESC, vid ASC LIMIT 8)")
    sql["q114_beam_search"] = f"""
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        assign AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                       s.centroid) DESC,
                                s.cell ASC) AS rk
            FROM embeddings e, seeds s
        ),
        cells AS (SELECT vec_id, v, cell FROM assign WHERE rk = 1),
        probes AS (SELECT vec_id AS qid, v AS qv, cell
                   FROM assign WHERE rk <= 2),
        gscored AS (
            SELECT p.qid, c.vec_id AS nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.qid
                       ORDER BY list_cosine_similarity(p.qv, c.v) DESC,
                                c.vec_id ASC) AS nn_rank
            FROM probes p JOIN cells c ON p.cell = c.cell
            WHERE c.vec_id <> p.qid
        ),
        knng_dir AS (SELECT qid, nid FROM gscored WHERE nn_rank <= 8),
        knng AS (SELECT DISTINCT qid, nid FROM (
            SELECT qid, nid FROM knng_dir
            UNION ALL SELECT nid, qid FROM knng_dir)),
        qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id = 0),
        qscored AS (
            SELECT e.vec_id AS vid,
                   CAST(FLOOR(list_cosine_similarity(e.embedding::DOUBLE[],
                        qv.v) * 1000000.0 + 0.5) AS BIGINT) AS sc
            FROM embeddings e, qv
        ),
        b0 AS (
            SELECT vid, sc FROM qscored WHERE vid IN (0, 100, 200, 300)
            ORDER BY sc DESC, vid ASC LIMIT 8
        ),
        {', '.join(_beam_rounds)}
        SELECT vid AS vec_id, CAST(sc AS DOUBLE) / 1000000.0 AS score
        FROM b3 ORDER BY sc DESC, vid ASC LIMIT 5
    """

    # q148: the full HNSW hierarchy unrolled — md5-geometric levels
    # (same strpos hex-word idiom as q80), the level>=1 brute kNN
    # subgraph (k=4, symmetrized), top-layer scan, 2 middle beam
    # rounds (beam 4), then the q114 base rounds (beam 8) over knng.
    _mid_rounds = []
    for _i in range(1, 3):
        _mid_rounds.append(
            f"uf{_i} AS (SELECT DISTINCT g.nid AS vid "
            f"FROM u{_i - 1} b JOIN ug g ON g.qid = b.vid)")
        _mid_rounds.append(
            f"u{_i} AS (SELECT vid, MAX(sc) AS sc FROM "
            f"(SELECT vid, sc FROM u{_i - 1} UNION ALL "
            f"SELECT f.vid, s.sc FROM uf{_i} f JOIN qscored8 s USING (vid)) "
            f"GROUP BY vid ORDER BY sc DESC, vid ASC LIMIT 4)")
    _base_rounds = []
    for _i in range(1, 4):
        _base_rounds.append(
            f"hf{_i} AS (SELECT DISTINCT g.nid AS vid "
            f"FROM hb{_i - 1} b JOIN knng g ON g.qid = b.vid)")
        _base_rounds.append(
            f"hb{_i} AS (SELECT vid, MAX(sc) AS sc FROM "
            f"(SELECT vid, sc FROM hb{_i - 1} UNION ALL "
            f"SELECT f.vid, s.sc FROM hf{_i} f JOIN qscored8 s USING (vid)) "
            f"GROUP BY vid ORDER BY sc DESC, vid ASC LIMIT 8)")
    sql["q148_hnsw_search"] = f"""
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        assign AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                       s.centroid) DESC,
                                s.cell ASC) AS rk
            FROM embeddings e, seeds s
        ),
        cells AS (SELECT vec_id, v, cell FROM assign WHERE rk = 1),
        probes AS (SELECT vec_id AS qid, v AS qv, cell
                   FROM assign WHERE rk <= 2),
        gscored AS (
            SELECT p.qid, c.vec_id AS nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.qid
                       ORDER BY list_cosine_similarity(p.qv, c.v) DESC,
                                c.vec_id ASC) AS nn_rank
            FROM probes p JOIN cells c ON p.cell = c.cell
            WHERE c.vec_id <> p.qid
        ),
        knng_dir AS (SELECT qid, nid FROM gscored WHERE nn_rank <= 8),
        knng AS (SELECT DISTINCT qid, nid FROM (
            SELECT qid, nid FROM knng_dir
            UNION ALL SELECT nid, qid FROM knng_dir)),
        lv AS (
            SELECT vec_id,
                   CASE WHEN w % 256 = 0 THEN 2
                        WHEN w % 16 = 0 THEN 1 ELSE 0 END AS level
            FROM (SELECT vec_id,
                         CAST(list_sum(list_transform(range(0, 8),
                              j -> (strpos('0123456789abcdef',
                                    substr(md5('hnsw:'
                                           || CAST(vec_id AS VARCHAR)),
                                           1 + j::INT, 1)) - 1)
                                   * power(16, 7 - j))) AS BIGINT) AS w
                  FROM embeddings)
        ),
        usub AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v
            FROM embeddings e JOIN lv USING (vec_id) WHERE lv.level >= 1
        ),
        uscored AS (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.v, b.v) DESC,
                                b.vec_id ASC) AS rk
            FROM usub a JOIN usub b ON a.vec_id <> b.vec_id
        ),
        ug_dir AS (SELECT qid, nid FROM uscored WHERE rk <= 4),
        ug AS (SELECT DISTINCT qid, nid FROM (
            SELECT qid, nid FROM ug_dir
            UNION ALL SELECT nid, qid FROM ug_dir)),
        qv8 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id = 7),
        qscored8 AS (
            SELECT e.vec_id AS vid,
                   CAST(FLOOR(list_cosine_similarity(e.embedding::DOUBLE[],
                        qv8.v) * 1000000.0 + 0.5) AS BIGINT) AS sc
            FROM embeddings e, qv8
        ),
        l2s AS (SELECT s.vid FROM qscored8 s
                JOIN lv ON s.vid = lv.vec_id
                WHERE lv.level >= 2
                ORDER BY s.sc DESC, s.vid ASC LIMIT 2),
        fb AS (SELECT vec_id AS vid FROM lv WHERE level >= 1
               ORDER BY vec_id ASC LIMIT 1),
        ent1 AS (SELECT DISTINCT vid FROM (
            SELECT vid FROM l2s UNION ALL SELECT vid FROM fb)),
        u0 AS (SELECT s.vid, s.sc FROM ent1 JOIN qscored8 s USING (vid)
               ORDER BY sc DESC, vid ASC LIMIT 4),
        {', '.join(_mid_rounds)},
        hb0 AS (SELECT vid, sc FROM u2),
        {', '.join(_base_rounds)}
        SELECT vid AS vec_id, CAST(sc AS DOUBLE) / 1000000.0 AS score
        FROM hb3 ORDER BY sc DESC, vid ASC LIMIT 5
    """

    # q149: the four stage fragments (q56 gate, q12 dedup rule, q58
    # fingerprints, q69 token counts) chained into one audit query.
    sql["q149_corpus_pipeline"] = """
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS words,
                   list_filter(string_split(text, chr(10)),
                               x -> trim(x) <> '') AS lines,
                   (len(text) - len(replace(text, '#', '')))
                       + len(regexp_extract_all(text, '\\.\\.\\.|…'))
                       AS symbols
            FROM documents
        ),
        sig AS (
            SELECT doc_id,
                CAST(len(words) AS BIGINT) AS word_count,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE
                    ROUND(list_sum(list_transform(words,
                          x -> len(x)))::DOUBLE / len(words), 6) END
                    AS mean_word_length,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE
                    ROUND(symbols::DOUBLE / len(words), 6) END
                    AS symbol_word_ratio,
                ROUND(len(list_filter(lines,
                          x -> regexp_matches(trim(x), '^[-*•]')))::DOUBLE
                      / GREATEST(len(lines), 1), 6) AS bullet_line_ratio,
                ROUND(len(list_filter(lines,
                          x -> regexp_matches(trim(x),
                                              '(\\.\\.\\.|…)$')))::DOUBLE
                      / GREATEST(len(lines), 1), 6) AS ellipsis_line_ratio,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE
                    ROUND(len(list_filter(words,
                              x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                          / len(words), 6) END AS alpha_word_ratio,
                CAST(len(list_intersect(
                    list_distinct(list_transform(words, x -> lower(x))),
                    ['the', 'be', 'to', 'of', 'and', 'that', 'have',
                     'with'])) AS BIGINT) AS stopword_hits
            FROM w
        ),
        s1 AS (
            SELECT d.* FROM documents d JOIN sig USING (doc_id)
            WHERE sig.word_count >= 40 AND sig.word_count <= 100000
              AND sig.mean_word_length >= 3 AND sig.mean_word_length <= 10
              AND sig.symbol_word_ratio <= 0.1
              AND sig.bullet_line_ratio <= 0.9
              AND sig.ellipsis_line_ratio <= 0.3
              AND sig.alpha_word_ratio >= 0.8
        ),
        surv AS (
            SELECT MIN(doc_id) AS doc_id FROM (
                SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g'))) AS h
                FROM s1) GROUP BY h
        ),
        s2 AS (SELECT s1.* FROM s1 JOIN surv USING (doc_id)),
        tok2 AS (
            SELECT doc_id, list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+',
                                            ' ', 'g'), ' '),
                x -> x <> '') AS toks
            FROM s2 WHERE source <> 'src0'
        ),
        tokb AS (
            SELECT doc_id, list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+',
                                            ' ', 'g'), ' '),
                x -> x <> '') AS toks
            FROM documents WHERE source = 'src0'
        ),
        bench AS (
            SELECT DISTINCT unnest(list_distinct(
                list_transform(range(0, greatest(len(toks) - 8, 0) + 1),
                               i -> md5(array_to_string(toks[i+1:i+8],
                                                        ' '))))) AS fp
            FROM tokb
        ),
        contaminated AS (
            SELECT DISTINCT t.doc_id FROM (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(0, greatest(len(toks) - 8, 0) + 1),
                                   i -> md5(array_to_string(toks[i+1:i+8],
                                                            ' '))))) AS fp
                FROM tok2) t JOIN bench b ON t.fp = b.fp
        ),
        s3 AS (
            SELECT s2.* FROM s2
            WHERE s2.source <> 'src0'
              AND s2.doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        ptoks AS (
            SELECT len(list_filter(
                string_split(regexp_replace(lower(text), '[^a-z0-9]+',
                                            ' ', 'g'), ' '),
                x -> x <> '')) AS nt
            FROM s3
        ),
        ptot AS (SELECT COALESCE(SUM(nt), 0) AS t
                 FROM ptoks WHERE nt > 0)
        SELECT '0_raw' AS stage, COUNT(*)::BIGINT AS n,
               COALESCE(SUM(n_chars), 0)::BIGINT AS m FROM documents
        UNION ALL
        SELECT '1_quality', COUNT(*)::BIGINT,
               COALESCE(SUM(n_chars), 0)::BIGINT FROM s1
        UNION ALL
        SELECT '2_dedup', COUNT(*)::BIGINT,
               COALESCE(SUM(n_chars), 0)::BIGINT FROM s2
        UNION ALL
        SELECT '3_decontam', COUNT(*)::BIGINT,
               COALESCE(SUM(n_chars), 0)::BIGINT FROM s3
        UNION ALL
        SELECT '4_packed', CAST(CEIL(t / 512.0) AS BIGINT), t::BIGINT
        FROM ptot
        ORDER BY stage
    """

    # q150: 3 GD steps unrolled — feats once (materialized), then per
    # step a femto-unit dot product, the rational fast-sigmoid link,
    # a pico-unit gradient sum, and the weight update in the SAME
    # association the Python driver uses.
    _md5w = ("CAST(list_sum(list_transform(range(0, 8), "
             "j_ -> (strpos('0123456789abcdef', "
             "substr(md5(_tok), 1 + j_::INT, 1)) - 1) "
             "* power(16, 7 - j_))) AS BIGINT)")
    _gd = ["""
        ftoks AS (SELECT doc_id, unnest(toks) AS _tok FROM toks_t),
        fcnt AS (SELECT doc_id,
                        CAST(%s %% 64 AS INT) AS j,
                        COUNT(*) AS c
                 FROM ftoks GROUP BY 1, 2),
        fn AS (SELECT doc_id, COUNT(*) AS n FROM ftoks GROUP BY 1),
        feats AS MATERIALIZED (
            SELECT c.doc_id, c.j,
                   CAST(c.c AS DOUBLE) / CAST(fn.n AS DOUBLE) AS x
            FROM fcnt c JOIN fn USING (doc_id)
            UNION ALL
            SELECT doc_id, 64 AS j, 1.0 AS x FROM fn),
        lbl AS MATERIALIZED (
            SELECT t.doc_id,
                   CASE WHEN list_contains(t.toks, 'dup')
                        THEN 1 ELSE 0 END AS y
            FROM toks_t t JOIN fn ON t.doc_id = fn.doc_id),
        nd AS (SELECT COUNT(*) AS n FROM lbl),
        cw AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                      / (2.0 * CAST((SELECT SUM(CASE WHEN
                              list_contains(toks, 'dup') THEN 1 ELSE 0
                              END) FROM toks_t) AS DOUBLE)) AS pw,
                      CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                      / (2.0 * CAST((SELECT SUM(CASE WHEN
                              list_contains(toks, 'dup') THEN 0 ELSE 1
                              END) FROM toks_t) AS DOUBLE)) AS nw),
        w0 AS (SELECT j::INT AS j, 0.0 AS w FROM range(0, 65) t(j))"""
           % _md5w]
    for k in range(1, 4):
        _gd.append(f"""
        z{k} AS (SELECT f.doc_id,
                        SUM(CAST(FLOOR(w.w * f.x * 1e15 + 0.5)
                                 AS BIGINT)) AS zm
                 FROM feats f JOIN w{k - 1} w USING (j) GROUP BY 1),
        p{k} AS (SELECT doc_id,
                        0.5 + 0.5 * (CAST(zm AS DOUBLE) / 1e15)
                            / (1.0 + abs(CAST(zm AS DOUBLE) / 1e15)) AS p
                 FROM z{k}),
        g{k} AS (SELECT f.j,
                        SUM(CAST(FLOOR((p.p - CAST(l.y AS DOUBLE)) * f.x
                                       * (CASE WHEN l.y = 1
                                          THEN (SELECT pw FROM cw)
                                          ELSE (SELECT nw FROM cw) END)
                                       * 1e12 + 0.5) AS BIGINT)) AS gm
                 FROM feats f JOIN p{k} p USING (doc_id)
                 JOIN lbl l USING (doc_id) GROUP BY 1),
        w{k} AS MATERIALIZED (
            SELECT w.j,
                   w.w - ((CAST(COALESCE(g.gm, 0) AS DOUBLE)
                           / 1000000000000.0) * 50.0)
                         / (SELECT n FROM nd) AS w
            FROM w{k - 1} w LEFT JOIN g{k} g USING (j))""")
    sql["q150_quality_probe"] = (
        "WITH " + TOKS_CTE + "," + ",".join(_gd) + """,
        zf AS (SELECT f.doc_id,
                      SUM(CAST(FLOOR(w.w * f.x * 1e15 + 0.5)
                               AS BIGINT)) AS zm
               FROM feats f JOIN w3 w USING (j) GROUP BY 1)
        SELECT z.doc_id, l.y AS label,
               CAST(FLOOR((0.5 + 0.5 * (CAST(z.zm AS DOUBLE) / 1e15)
                    / (1.0 + abs(CAST(z.zm AS DOUBLE) / 1e15)))
                    * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS score
        FROM zf z JOIN lbl l USING (doc_id)
        ORDER BY z.doc_id""")

    # q152: q71's quantization CTEs, integer-dot candidate ranking,
    # exact-cosine re-rank — the same association as topk_int8.
    sql["q152_int8_ann"] = """
        WITH q AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) / 127.0 AS scale
            FROM embeddings
        ),
        qq AS (
            SELECT vec_id, v, scale,
                   CASE WHEN scale * 127.0 < 1e-10
                        THEN list_transform(v, x -> 0)
                        ELSE list_transform(v, x -> CAST(round(x / scale)
                                                         AS INT)) END
                       AS qvec
            FROM q
        ),
        qv3 AS (SELECT qvec AS qq3, v AS v3 FROM qq WHERE vec_id = 3),
        nq AS (SELECT CAST(list_sum(list_transform(qq3,
                      x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nq
               FROM qv3),
        scored AS (
            SELECT c.vec_id,
                   CAST(list_sum(list_transform(range(1, len(c.qvec) + 1),
                        i_ -> CAST(c.qvec[i_] AS BIGINT)
                              * CAST(q3.qq3[i_] AS BIGINT)))
                        AS BIGINT) AS d,
                   CAST(list_sum(list_transform(c.qvec,
                        x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nv
            FROM qq c, qv3 q3
        ),
        cand AS (
            SELECT vec_id,
                   CASE WHEN nv = 0 OR (SELECT nq FROM nq) = 0 THEN 0.0
                        ELSE CAST(d AS DOUBLE)
                             / (sqrt(CAST(nv AS DOUBLE))
                                * sqrt(CAST((SELECT nq FROM nq)
                                            AS DOUBLE))) END AS ascore
            FROM scored
            ORDER BY ascore DESC, vec_id ASC LIMIT 50
        ),
        rr AS (
            SELECT c.vec_id,
                   CAST(FLOOR(list_cosine_similarity(
                        e.embedding::DOUBLE[], (SELECT v3 FROM qv3))
                        * 1000000.0 + 0.5) AS BIGINT) AS sc
            FROM cand c JOIN embeddings e USING (vec_id)
            ORDER BY sc DESC, c.vec_id ASC LIMIT 10
        )
        SELECT vec_id, CAST(sc AS DOUBLE) / 1000000.0 AS score
        FROM rr ORDER BY score DESC, vec_id ASC
    """

    # q151: the streaming dedup's drained sink equals batch DISTINCT.
    sql["q151_stream_dedup"] = """
        SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
    """

    # q153: the per-event DLQ lifecycle stated directly from the
    # deterministic failure buckets — 0-5 first-try, 6-7 two retries
    # then success (attempt 3), 8 exhausts + manual-retry success
    # (attempt 5), 9 permanently dead; DLQ after manual retry = the
    # bucket-9 census.
    sql["q153_dlq_lifecycle"] = """
        WITH sub AS (
            SELECT event_id, event_type, event_id % 10 AS m
            FROM events
            WHERE event_type IN ('click', 'view') AND event_id < 4000
        ),
        per_event AS (
            SELECT event_type,
                   CASE WHEN m = 9 THEN 'dead_letter'
                        ELSE 'processed' END AS final_status,
                   CASE WHEN m <= 5 THEN 1
                        WHEN m <= 7 THEN 3
                        ELSE 5 END::BIGINT AS attempts
            FROM sub
        )
        SELECT event_type, final_status, attempts,
               COUNT(*)::BIGINT AS n,
               (SELECT COUNT(*) FROM sub WHERE m = 9)::BIGINT AS n_dlq
        FROM per_event GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """

    # q154: the perspective report unrolled — same micro-quantized
    # arithmetic, same op order as operators/perspectives.py::
    # perspective_report; reuses the q53 type_case / word-set fragments.
    _rep_jac = ("(len(list_intersect("
                + wset.format("a.rep") + ", " + wset.format("b.rep")
                + "))::DOUBLE / len(list_distinct(list_concat("
                + wset.format("a.rep") + ", " + wset.format("b.rep") + "))))")
    _opp_kw = " OR ".join(
        f"(contains(lower(a.rep), '{p}') AND contains(lower(b.rep), '{n}'))"
        f" OR (contains(lower(a.rep), '{n}') AND contains(lower(b.rep), '{p}'))"
        for p, n in [("positive", "negative"), ("good", "bad"),
                     ("effective", "ineffective"), ("beneficial", "harmful"),
                     ("increase", "decrease"), ("support", "oppose"),
                     ("agree", "disagree"), ("should", "should not"),
                     ("yes", "no")])
    _tc = ", ".join(
        f"SUM(CASE WHEN ptype = '{pt}' THEN n_docs ELSE 0 END)::BIGINT"
        f" AS n_{pt}"
        for pt in ("opposing", "complementary", "alternative",
                   "stakeholder", "methodological"))
    _phr_case = ("CASE doc_id % 7 "
                 + " ".join(f"WHEN {i} THEN '{p}'"
                            for i, p in enumerate(Q154_PHRASES))
                 + " END")
    sql["q154_perspective_report"] = f"""
        WITH dseed AS (
            SELECT source, doc_id, {_phr_case} || ' ' || text AS text
            FROM documents
        ),
        d0 AS (
            SELECT source AS topic, doc_id, text, {type_case} AS ptype,
                   length(text) AS ln
            FROM dseed
        ),
        d1 AS (
            SELECT *, CASE WHEN ln < 2000 THEN LEAST(ln / 500.0, 1.0)
                           ELSE 0.8 END AS ls
            FROM d0 WHERE ptype <> 'none'
        ),
        d2 AS (
            SELECT *, CAST(FLOOR((ls * 0.3 + 0.2) * 1000000.0 + 0.5)
                           AS BIGINT) AS qm
            FROM d1
        ),
        persp AS (
            SELECT topic, ptype, COUNT(*) AS n_docs, SUM(qm) AS sum_qm,
                   arg_min(text, doc_id) AS rep
            FROM d2 GROUP BY 1, 2
        ),
        persp2 AS (
            SELECT topic, ptype, n_docs, rep,
                   LEAST(CAST(FLOOR((LEAST(n_docs / 5.0, 1.0) * 0.6 + 0.2)
                                    * 1000000.0 + 0.5) AS BIGINT),
                         950000) AS conf_micro,
                   CAST(FLOOR(CAST(sum_qm AS DOUBLE) / n_docs + 0.5)
                        AS BIGINT) AS eq_micro
            FROM persp
        ),
        pairs AS (
            SELECT a.topic, a.ptype AS pa, b.ptype AS pb,
                   CAST(FLOOR(GREATEST({_rep_jac} * 0.5 - 0.2, 0.0)
                              * 1000000.0 + 0.5) AS BIGINT) AS sim_micro,
                   CASE WHEN a.ptype = 'opposing' OR b.ptype = 'opposing'
                             OR {_opp_kw}
                        THEN 1 ELSE 0 END AS opp
            FROM persp2 a JOIN persp2 b
                 ON a.topic = b.topic AND a.ptype < b.ptype
        ),
        pair_agg AS (
            SELECT topic, COUNT(*) AS n_pairs, SUM(sim_micro) AS sum_sim,
                   SUM(opp) AS n_opposing_pairs,
                   string_agg(pa || '|' || pb || '|' || sim_micro, ';'
                              ORDER BY pa || '|' || pb || '|' || sim_micro)
                       AS matrix
            FROM pairs GROUP BY 1
        ),
        dom AS (
            SELECT topic, ptype AS dominant_type
            FROM (SELECT topic, ptype, ROW_NUMBER() OVER (
                      PARTITION BY topic
                      ORDER BY n_docs DESC, ptype ASC) AS rk
                  FROM persp2)
            WHERE rk = 1
        ),
        tagg AS (
            SELECT topic, COUNT(*) AS n_persp, {_tc},
                   CAST(FLOOR(CAST(SUM(conf_micro) AS DOUBLE) / COUNT(*)
                              + 0.5) AS BIGINT) AS avg_conf_micro,
                   CAST(FLOOR(CAST(SUM(eq_micro) AS DOUBLE) / COUNT(*)
                              + 0.5) AS BIGINT) AS avg_eq_micro
            FROM persp2 GROUP BY 1
        ),
        fin AS (
            SELECT t.*, d.dominant_type,
                   COALESCE(p.n_pairs, 0) AS n_pairs0,
                   p.n_pairs AS n_pairs_raw,
                   COALESCE(p.n_opposing_pairs, 0) AS n_opp0,
                   COALESCE(p.matrix, '') AS matrix0,
                   CASE WHEN p.n_pairs IS NULL THEN 1000000
                        ELSE CAST(FLOOR(CAST(p.sum_sim AS DOUBLE)
                                        / p.n_pairs + 0.5) AS BIGINT)
                   END AS avg_sim_micro
            FROM tagg t JOIN dom d USING (topic)
            LEFT JOIN pair_agg p USING (topic)
        )
        SELECT topic, n_persp::BIGINT AS n_perspectives, dominant_type,
               n_opposing, n_complementary, n_alternative, n_stakeholder,
               n_methodological,
               CAST(avg_conf_micro AS DOUBLE) / 1000000.0 AS avg_confidence,
               CAST(avg_eq_micro AS DOUBLE) / 1000000.0
                   AS avg_evidence_quality,
               n_pairs0::BIGINT AS n_pairs,
               CAST(avg_sim_micro AS DOUBLE) / 1000000.0 AS avg_similarity,
               n_opp0::BIGINT AS n_opposing_pairs,
               CASE WHEN n_persp < 2 THEN 'strong_consensus'
                    WHEN avg_sim_micro >= 800000 THEN 'strong_consensus'
                    WHEN avg_sim_micro >= 600000 THEN 'moderate_consensus'
                    WHEN avg_sim_micro >= 400000 THEN 'weak_consensus'
                    WHEN avg_sim_micro >= 200000 THEN 'no_consensus'
                    ELSE 'strong_disagreement' END AS consensus_level,
               CAST(FLOOR(LEAST(LEAST(n_persp / 5.0, 1.0) * 0.4
                                + (CAST(avg_conf_micro AS DOUBLE)
                                   / 1000000.0) * 0.4
                                + n_persp / 6.0 * 0.2, 0.95)
                          * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
                   AS analysis_confidence,
               matrix0 AS matrix
        FROM fin ORDER BY topic
    """

    # q155: the WAV window energies recomputed from the sample FORMULA
    # (the engine side decodes the actual bytes; a byte-path bug breaks
    # the hash). n = 400 + (doc_id%5)*80 is always divisible by 8.
    _e_cols = ", ".join(
        f"CAST(SUM(CASE WHEN w = {j} THEN smp * smp ELSE 0 END) AS DOUBLE)"
        f" / (n // 8) AS e{j}" for j in range(8))
    sql["q155_audio_features"] = f"""
        WITH d AS (
            SELECT doc_id, 400 + (doc_id % 5) * 80 AS n FROM documents
        ),
        s0 AS (
            SELECT doc_id, n, unnest(range(0, n)) AS i FROM d
        ),
        s AS (
            SELECT doc_id, n, i,
                   ((doc_id * 31 + i * 7) % 65536) - 32768 AS smp,
                   CAST(i // (n // 8) AS INT) AS w
            FROM s0
        )
        SELECT 'm_' || doc_id AS media_id,
               8000::INT AS sample_rate,
               CAST(n * 125 AS DOUBLE) / 1000000.0 AS duration_s,
               n::BIGINT AS n_samples,
               {_e_cols}
        FROM s GROUP BY doc_id, n ORDER BY media_id
    """

    # q159: the full G.711 compand→expand quantizer replayed in pure
    # integer SQL (μ-law: bias-132 segment ladder; A-law: 13-bit fold
    # + Sun g711.c segment table), applied to the sample formula; the
    # engine side decodes the actual companded bytes, so any codec or
    # byte-path bug breaks the hash. n = 320 + (doc_id%5)*80 is always
    # divisible by 8.
    _g_cols = ", ".join(
        f"CAST(SUM(CASE WHEN w = {j} THEN q * q ELSE 0 END) AS DOUBLE)"
        f" / (n // 8) AS e{j}" for j in range(8))
    sql["q159_g711_audio"] = f"""
        WITH d AS (
            SELECT doc_id, 320 + (doc_id % 5) * 80 AS n FROM documents
        ),
        s0 AS (
            SELECT doc_id, n, unnest(range(0, n)) AS i FROM d
        ),
        raw AS (
            SELECT doc_id, n, i,
                   ((doc_id * 37 + i * 11) % 65536) - 32768 AS s,
                   CAST(i // (n // 8) AS INT) AS w
            FROM s0
        ),
        u1 AS (  -- mu-law: biased magnitude, segment, step
            SELECT *, LEAST(ABS(s), 32635) + 132 AS m FROM raw
        ),
        u2 AS (
            SELECT *, CASE WHEN m < 256 THEN 1 WHEN m < 512 THEN 2
                           WHEN m < 1024 THEN 4 WHEN m < 2048 THEN 8
                           WHEN m < 4096 THEN 16 WHEN m < 8192 THEN 32
                           WHEN m < 16384 THEN 64 ELSE 128 END AS sh
            FROM u1
        ),
        uq AS (
            SELECT doc_id, i,
                   (CASE WHEN s < 0 THEN -1 ELSE 1 END)
                   * ((((m // (sh * 8)) % 16) * 8 + 132) * sh - 132) AS qu
            FROM u2
        ),
        a1 AS (  -- A-law: 13-bit arithmetic shift, negative fold
            SELECT doc_id, i, s >= 0 AS pos,
                   CASE WHEN s >= 0
                        THEN CAST(FLOOR(s / 8.0) AS BIGINT)
                        ELSE -CAST(FLOOR(s / 8.0) AS BIGINT) - 1 END AS v
            FROM raw
        ),
        a2 AS (
            SELECT *, CASE WHEN v < 32 THEN 0 WHEN v < 64 THEN 1
                           WHEN v < 128 THEN 2 WHEN v < 256 THEN 3
                           WHEN v < 512 THEN 4 WHEN v < 1024 THEN 5
                           WHEN v < 2048 THEN 6 ELSE 7 END AS seg
            FROM a1
        ),
        a3 AS (
            SELECT *, (v // (CASE seg WHEN 0 THEN 2 WHEN 1 THEN 2
                                      WHEN 2 THEN 4 WHEN 3 THEN 8
                                      WHEN 4 THEN 16 WHEN 5 THEN 32
                                      WHEN 6 THEN 64 ELSE 128 END)) % 16
                          AS mant
            FROM a2
        ),
        aq AS (
            SELECT doc_id, i,
                   (CASE WHEN pos THEN 1 ELSE -1 END)
                   * (CASE WHEN seg = 0 THEN mant * 16 + 8
                           ELSE (mant * 16 + 264)
                                * (CASE seg WHEN 1 THEN 1 WHEN 2 THEN 2
                                            WHEN 3 THEN 4 WHEN 4 THEN 8
                                            WHEN 5 THEN 16 WHEN 6 THEN 32
                                            ELSE 64 END) END) AS qa
            FROM a3
        ),
        q AS (
            SELECT r.doc_id, r.n, r.w,
                   CASE WHEN r.doc_id % 2 = 0 THEN uq.qu ELSE aq.qa END AS q
            FROM raw r
            JOIN uq ON uq.doc_id = r.doc_id AND uq.i = r.i
            JOIN aq ON aq.doc_id = r.doc_id AND aq.i = r.i
        )
        SELECT 'm_' || doc_id AS media_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 6 END AS INT)
                   AS audio_fmt,
               8000::INT AS sample_rate,
               n::BIGINT AS n_samples,
               {_g_cols}
        FROM q GROUP BY doc_id, n ORDER BY media_id
    """

    # q162: JPEG dequant + fixed-point IDCT replayed relationally —
    # the coefficient formula joined against the 13-bit cosine table
    # twice (vertical u→y, horizontal v→x), exact int64 products,
    # power-of-two FLOOR division (exact in double), clamp, per-block
    # sums. The engine side Huffman-decodes the actual bytes to reach
    # the same coefficients.
    from memory_engine_spark.operators import multimodal as _mm
    _ja = ",".join(f"({u},{x},{_mm._JPEG_IDCT_A[u][x]})"
                   for u in range(8) for x in range(8))
    _jq = ",".join(f"({u},{v},{_mm._JPEG_QTAB[u * 8 + v]})"
                   for u in range(8) for v in range(8))
    _jz40 = _mm._JPEG_ZZ[40]
    _jhalf, _jdiv = 1 << (2 * _mm._JPEG_K + 1), \
        float(1 << (2 * _mm._JPEG_K + 2))
    sql["q162_jpeg_pixels"] = f"""
        WITH blocks AS (
            SELECT doc_id, unnest(range(0, 4)) AS b FROM documents
        ),
        base AS (
            SELECT doc_id, b, u, v,
                   ((doc_id * 7 + b * 11 + u * 5 + v * 3) % 9) - 4 AS qc
            FROM (SELECT doc_id, b, u, unnest(range(0, 8)) AS v
                  FROM (SELECT doc_id, b, unnest(range(0, 8)) AS u
                        FROM blocks))
            WHERE u + v <= 2
        ),
        extra AS (
            SELECT doc_id, b, {_jz40 // 8} AS u, {_jz40 % 8} AS v,
                   ((doc_id + b) % 5) - 2 AS qc
            FROM blocks WHERE (doc_id + b) % 3 = 0
        ),
        coefs AS (SELECT * FROM base UNION ALL SELECT * FROM extra),
        atab(u, x, a) AS (VALUES {_ja}),
        qtab(u, v, q) AS (VALUES {_jq}),
        contrib AS (
            SELECT c.doc_id, c.b, ay.x AS y, ax.x AS x,
                   SUM(c.qc * q.q * ay.a * ax.a) AS s
            FROM coefs c
            JOIN qtab q ON q.u = c.u AND q.v = c.v
            JOIN atab ay ON ay.u = c.u
            JOIN atab ax ON ax.u = c.v
            GROUP BY c.doc_id, c.b, ay.x, ax.x
        ),
        grid AS (
            SELECT doc_id, b, y, x
            FROM (SELECT doc_id, b, y, unnest(range(0, 8)) AS x
                  FROM (SELECT doc_id, b, unnest(range(0, 8)) AS y
                        FROM blocks))
        ),
        px AS (
            SELECT g.doc_id, g.b,
                   LEAST(255, GREATEST(0,
                       CAST(FLOOR((COALESCE(c.s, 0) + {_jhalf})
                                  / {_jdiv}) AS BIGINT) + 128)) AS p
            FROM grid g
            LEFT JOIN contrib c ON c.doc_id = g.doc_id AND c.b = g.b
                                AND c.y = g.y AND c.x = g.x
        )
        SELECT 'm_' || doc_id AS media_id,
               (b % 2)::INT AS bx, (b // 2)::INT AS by,
               SUM(p)::BIGINT AS psum, SUM(p * p)::BIGINT AS psqsum
        FROM px GROUP BY doc_id, b ORDER BY media_id, by, bx
    """

    # q163: q162's relational dequant+IDCT per COMPONENT (two quant
    # tables selected by component), pivoted to (Y, Cb, Cr) per pixel,
    # then the JFIF fixed-point color conversion — FLOOR of
    # power-of-two divisions, exact in doubles — and per-block
    # per-channel sums.
    _jqc = ",".join(
        f"({t},{u},{v},{(_mm._JPEG_QTAB if t == 0 else _mm._JPEG_QTAB_C)[u * 8 + v]})"
        for t in (0, 1) for u in range(8) for v in range(8))
    sql["q163_jpeg_color"] = f"""
        WITH blocks AS (
            SELECT doc_id, unnest(range(0, 4)) AS b FROM documents
        ),
        comps AS (
            SELECT doc_id, b, unnest(range(0, 3)) AS ci FROM blocks
        ),
        coefs AS (
            SELECT doc_id, b, ci, u, v,
                   ((doc_id * 7 + b * 11 + ci * 13 + u * 5 + v * 3) % 9)
                       - 4 AS qc
            FROM (SELECT doc_id, b, ci, u, unnest(range(0, 8)) AS v
                  FROM (SELECT doc_id, b, ci, unnest(range(0, 8)) AS u
                        FROM comps))
            WHERE u + v <= 2
        ),
        atab(u, x, a) AS (VALUES {_ja}),
        qtab(t, u, v, q) AS (VALUES {_jqc}),
        contrib AS (
            SELECT c.doc_id, c.b, c.ci, ay.x AS y, ax.x AS x,
                   SUM(c.qc * q.q * ay.a * ax.a) AS s
            FROM coefs c
            JOIN qtab q ON q.t = CASE WHEN c.ci = 0 THEN 0 ELSE 1 END
                       AND q.u = c.u AND q.v = c.v
            JOIN atab ay ON ay.u = c.u
            JOIN atab ax ON ax.u = c.v
            GROUP BY c.doc_id, c.b, c.ci, ay.x, ax.x
        ),
        grid AS (
            SELECT doc_id, b, ci, y, x
            FROM (SELECT doc_id, b, ci, y, unnest(range(0, 8)) AS x
                  FROM (SELECT doc_id, b, ci, unnest(range(0, 8)) AS y
                        FROM comps))
        ),
        plane AS (
            SELECT g.doc_id, g.b, g.ci, g.y, g.x,
                   LEAST(255, GREATEST(0,
                       CAST(FLOOR((COALESCE(c.s, 0) + {_jhalf})
                                  / {_jdiv}) AS BIGINT) + 128)) AS p
            FROM grid g
            LEFT JOIN contrib c ON c.doc_id = g.doc_id AND c.b = g.b
                                AND c.ci = g.ci AND c.y = g.y
                                AND c.x = g.x
        ),
        ycc AS (
            SELECT doc_id, b, y, x,
                   MAX(CASE WHEN ci = 0 THEN p END) AS yy,
                   MAX(CASE WHEN ci = 1 THEN p END) - 128 AS cb,
                   MAX(CASE WHEN ci = 2 THEN p END) - 128 AS cr
            FROM plane GROUP BY doc_id, b, y, x
        ),
        rgb AS (
            SELECT doc_id, b,
                   LEAST(255, GREATEST(0, yy + CAST(FLOOR(
                       (91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
                   LEAST(255, GREATEST(0, yy - CAST(FLOOR(
                       (22554 * cb + 46802 * cr + 32768) / 65536.0)
                       AS BIGINT))) AS g,
                   LEAST(255, GREATEST(0, yy + CAST(FLOOR(
                       (116130 * cb + 32768) / 65536.0) AS BIGINT))) AS bl
            FROM ycc
        )
        SELECT 'm_' || doc_id AS media_id,
               (b % 2)::INT AS bx, (b // 2)::INT AS by,
               SUM(r)::BIGINT AS rsum, SUM(g)::BIGINT AS gsum,
               SUM(bl)::BIGINT AS bsum,
               SUM(r * r + g * g + bl * bl)::BIGINT AS sqsum
        FROM rgb GROUP BY doc_id, b ORDER BY media_id, by, bx
    """

    # q164: the 4:2:0 pixel-to-plane index arithmetic in SQL — the
    # luma block id j = (Y//8)*2 + (X%16)//8 within MCU m = X//16,
    # chroma at half resolution (Y//2, (X%16)//2) — composed with the
    # same relational dequant+IDCT and fixed-point color conversion.
    sql["q164_jpeg_420"] = f"""
        WITH mcus AS (
            SELECT doc_id, unnest(range(0, 2)) AS m FROM documents
        ),
        ycoefs AS (
            SELECT doc_id, m, j, u, v,
                   ((doc_id * 7 + m * 17 + j * 11 + u * 5 + v * 3) % 9)
                       - 4 AS qc
            FROM (SELECT doc_id, m, j, u, unnest(range(0, 8)) AS v
                  FROM (SELECT doc_id, m, j, unnest(range(0, 8)) AS u
                        FROM (SELECT doc_id, m, unnest(range(0, 4)) AS j
                              FROM mcus)))
            WHERE u + v <= 2
        ),
        ccoefs AS (
            SELECT doc_id, m, ci, u, v,
                   ((doc_id * 7 + m * 17 + ci * 13 + u * 5 + v * 3) % 9)
                       - 4 AS qc
            FROM (SELECT doc_id, m, ci, u, unnest(range(0, 8)) AS v
                  FROM (SELECT doc_id, m, ci, unnest(range(0, 8)) AS u
                        FROM (SELECT doc_id, m, unnest(range(1, 3)) AS ci
                              FROM mcus)))
            WHERE u + v <= 2
        ),
        atab(u, x, a) AS (VALUES {_ja}),
        qtab(t, u, v, q) AS (VALUES {_jqc}),
        ycontrib AS (
            SELECT c.doc_id, c.m, c.j, ay.x AS y, ax.x AS x,
                   SUM(c.qc * q.q * ay.a * ax.a) AS s
            FROM ycoefs c
            JOIN qtab q ON q.t = 0 AND q.u = c.u AND q.v = c.v
            JOIN atab ay ON ay.u = c.u
            JOIN atab ax ON ax.u = c.v
            GROUP BY c.doc_id, c.m, c.j, ay.x, ax.x
        ),
        ccontrib AS (
            SELECT c.doc_id, c.m, c.ci, ay.x AS y, ax.x AS x,
                   SUM(c.qc * q.q * ay.a * ax.a) AS s
            FROM ccoefs c
            JOIN qtab q ON q.t = 1 AND q.u = c.u AND q.v = c.v
            JOIN atab ay ON ay.u = c.u
            JOIN atab ax ON ax.u = c.v
            GROUP BY c.doc_id, c.m, c.ci, ay.x, ax.x
        ),
        grid AS (
            SELECT doc_id, gy, gx,
                   gx // 16 AS m,
                   (gy // 8) * 2 + (gx % 16) // 8 AS j,
                   gy % 8 AS ly, gx % 8 AS lx,
                   gy // 2 AS cy, (gx % 16) // 2 AS cx
            FROM (SELECT doc_id, gy, unnest(range(0, 32)) AS gx
                  FROM (SELECT doc_id, unnest(range(0, 16)) AS gy
                        FROM documents))
        ),
        ycc AS (
            SELECT g.doc_id, g.gy, g.gx,
                   LEAST(255, GREATEST(0,
                       CAST(FLOOR((COALESCE(yc.s, 0) + {_jhalf})
                                  / {_jdiv}) AS BIGINT) + 128)) AS yy,
                   LEAST(255, GREATEST(0,
                       CAST(FLOOR((COALESCE(cb.s, 0) + {_jhalf})
                                  / {_jdiv}) AS BIGINT) + 128)) - 128
                       AS cb,
                   LEAST(255, GREATEST(0,
                       CAST(FLOOR((COALESCE(cr.s, 0) + {_jhalf})
                                  / {_jdiv}) AS BIGINT) + 128)) - 128
                       AS cr
            FROM grid g
            LEFT JOIN ycontrib yc ON yc.doc_id = g.doc_id AND yc.m = g.m
                                  AND yc.j = g.j AND yc.y = g.ly
                                  AND yc.x = g.lx
            LEFT JOIN ccontrib cb ON cb.doc_id = g.doc_id AND cb.m = g.m
                                  AND cb.ci = 1 AND cb.y = g.cy
                                  AND cb.x = g.cx
            LEFT JOIN ccontrib cr ON cr.doc_id = g.doc_id AND cr.m = g.m
                                  AND cr.ci = 2 AND cr.y = g.cy
                                  AND cr.x = g.cx
        ),
        rgb AS (
            SELECT doc_id, gy // 8 AS by, gx // 8 AS bx,
                   LEAST(255, GREATEST(0, yy + CAST(FLOOR(
                       (91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
                   LEAST(255, GREATEST(0, yy - CAST(FLOOR(
                       (22554 * cb + 46802 * cr + 32768) / 65536.0)
                       AS BIGINT))) AS g,
                   LEAST(255, GREATEST(0, yy + CAST(FLOOR(
                       (116130 * cb + 32768) / 65536.0) AS BIGINT))) AS bl
            FROM ycc
        )
        SELECT 'm_' || doc_id AS media_id,
               bx::INT AS bx, by::INT AS by,
               SUM(r)::BIGINT AS rsum, SUM(g)::BIGINT AS gsum,
               SUM(bl)::BIGINT AS bsum,
               SUM(r * r + g * g + bl * bl)::BIGINT AS sqsum
        FROM rgb GROUP BY doc_id, by, bx ORDER BY media_id, by, bx
    """

    # q161: the IMA-ADPCM encoder STATE MACHINE replayed as a
    # recursive CTE — one iteration per sample, state (pred, idx) per
    # doc; encoder and decoder share the vpdiff accumulation exactly,
    # so the decoded stream the engine extracts from the actual bytes
    # equals this predictor walk. All integer arithmetic; the step
    # table joins by index.
    _ima_steps = ",".join(str(v) for v in [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
        37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
        157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
        544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
        1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
        4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
        12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
        29794, 32767])
    _stp = "p.step"
    _ad = "ABS(m.s - t.pred)"
    _d4 = f"({_ad} >= {_stp})"
    _r2 = f"({_ad} - CASE WHEN {_d4} THEN {_stp} ELSE 0 END)"
    _d2 = f"({_r2} >= {_stp} // 2)"
    _r1 = f"({_r2} - CASE WHEN {_d2} THEN {_stp} // 2 ELSE 0 END)"
    _d1 = f"({_r1} >= {_stp} // 4)"
    _vpd = (f"({_stp} // 8 + CASE WHEN {_d4} THEN {_stp} ELSE 0 END"
            f" + CASE WHEN {_d2} THEN {_stp} // 2 ELSE 0 END"
            f" + CASE WHEN {_d1} THEN {_stp} // 4 ELSE 0 END)")
    _dmag = (f"(CASE WHEN {_d4} THEN 4 ELSE 0 END"
             f" + CASE WHEN {_d2} THEN 2 ELSE 0 END"
             f" + CASE WHEN {_d1} THEN 1 ELSE 0 END)")
    _iadd = (f"(CASE {_dmag} WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6"
             f" WHEN 7 THEN 8 ELSE -1 END)")
    _i_cols = ", ".join(
        f"CAST(SUM(CASE WHEN k // (n // 8) = {j} THEN pred * pred "
        f"ELSE 0 END) AS DOUBLE) / (n // 8) AS e{j}" for j in range(8))
    sql["q161_ima_adpcm_audio"] = f"""
        WITH RECURSIVE
        dd AS (SELECT doc_id, 97 + (doc_id % 4) * 32 AS n FROM documents),
        smp AS (
            SELECT doc_id, n, i,
                   ((doc_id * 41 + i * 13) % 65536) - 32768 AS s
            FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dd)
        ),
        steps AS (
            SELECT (ROW_NUMBER() OVER ())::BIGINT - 1 AS idx, step
            FROM (SELECT unnest([{_ima_steps}]) AS step)
        ),
        st AS (
            SELECT m.doc_id, m.n, 0::BIGINT AS k, m.s::BIGINT AS pred,
                   0::BIGINT AS idx
            FROM smp m WHERE m.i = 0
            UNION ALL
            SELECT t.doc_id, t.n, t.k + 1,
                   GREATEST(-32768, LEAST(32767,
                       CASE WHEN m.s < t.pred THEN t.pred - {_vpd}
                            ELSE t.pred + {_vpd} END)),
                   GREATEST(0, LEAST(88, t.idx + {_iadd}))
            FROM st t
            JOIN smp m ON m.doc_id = t.doc_id AND m.i = t.k + 1
            JOIN steps p ON p.idx = t.idx
            WHERE t.k + 1 < t.n
        )
        SELECT 'm_' || doc_id AS media_id, 17::INT AS audio_fmt,
               8000::INT AS sample_rate, n::BIGINT AS n_samples,
               {_i_cols}
        FROM st WHERE k // (n // 8) < 8
        GROUP BY doc_id, n ORDER BY media_id
    """

    # q160: the sampled-frame pixel grid regenerated with a stepped
    # range() (stride 2 = round(0.5s x 4fps)); exact BIGINT sums per
    # sampled frame. The engine side walks the actual AVI bytes.
    sql["q160_avi_frame_sample"] = """
        WITH d AS (
            SELECT doc_id, 6 + (doc_id % 4) * 2 AS nf,
                   8 + (doc_id % 3) * 4 AS w, 6 AS h
            FROM documents
        ),
        fr AS (
            SELECT doc_id, nf, w, h, unnest(range(0, nf, 2)) AS f FROM d
        ),
        cells AS (
            SELECT doc_id, nf, w, h, f, r, c, unnest(range(0, 3)) AS ch
            FROM (SELECT doc_id, nf, w, h, f, r, unnest(range(0, w)) AS c
                  FROM (SELECT doc_id, nf, w, h, f,
                               unnest(range(0, h)) AS r FROM fr))
        ),
        px AS (
            SELECT doc_id, nf, w, h, f,
                   (doc_id * 31 + f * 13 + r * 17 + c * 7 + ch * 5) % 256
                       AS v
            FROM cells
        )
        SELECT 'm_' || doc_id AS media_id, nf::INT AS n_frames,
               4::INT AS fps, w::INT AS width, h::INT AS height,
               f::INT AS frame_idx, (f * 250)::BIGINT AS ts_ms,
               SUM(v)::BIGINT AS psum, SUM(v * v)::BIGINT AS psqsum
        FROM px GROUP BY doc_id, nf, w, h, f
        ORDER BY media_id, frame_idx
    """

    # q166: q155's window-energy replay over the FLAC sample formula —
    # FLAC is lossless, so decode must reproduce the formula samples
    # EXACTLY; the energies are exact int64 sums with one trailing
    # IEEE division on both sides.
    _f_cols = ", ".join(
        f"CAST(SUM(CASE WHEN w = {j} THEN smp * smp ELSE 0 END) AS "
        f"DOUBLE) / (n // 8) AS e{j}" for j in range(8))
    sql["q166_flac_audio"] = f"""
        WITH d AS (
            SELECT doc_id, 96 + (doc_id % 4) * 32 AS n FROM documents
        ),
        s0 AS (
            SELECT doc_id, n, unnest(range(0, n)) AS i FROM d
        ),
        s AS (
            SELECT doc_id, n, i,
                   ((doc_id * 37 + i * 13) % 2048) - 1024 AS smp,
                   CAST(i // (n // 8) AS INT) AS w
            FROM s0
        )
        SELECT 'm_' || doc_id AS media_id,
               8000::INT AS sample_rate,
               CAST(n * 125 AS DOUBLE) / 1000000.0 AS duration_s,
               n::BIGINT AS n_samples,
               {_f_cols}
        FROM s GROUP BY doc_id, n ORDER BY media_id
    """

    # q207: ranking + lag + margin gate replayed.
    sql["q207_preference_pairs"] = """
        WITH r AS (
            SELECT doc_id, source, n_chars AS score,
                   LEAD(doc_id) OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC) AS rej_id,
                   LEAD(n_chars) OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC)
                       AS rej_score
            FROM documents
        )
        SELECT source, doc_id AS chosen_id, score AS chosen_score,
               rej_id AS rejected_id, rej_score AS rejected_score,
               (score - rej_score)::BIGINT AS margin,
               md5(doc_id || '|' || rej_id) AS pair_md5
        FROM r
        WHERE rej_id IS NOT NULL AND score - rej_score >= 5
        ORDER BY source, chosen_score DESC, chosen_id
    """

    # q204: the full index bytes pinned — canonical posting strings,
    # same (doc, pos) order, same md5.
    sql["q204_inverted_index"] = """
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ),
        t AS (
            SELECT doc_id, unnest(toks) AS term,
                   unnest(range(0, len(toks))) AS pos
            FROM d
        )
        SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df,
               COUNT(*)::BIGINT AS cf,
               md5(string_agg(doc_id || ':' || pos, ';'
                   ORDER BY doc_id, pos)) AS postings_md5
        FROM t GROUP BY term ORDER BY term
    """

    # q205: integer components + the exact float expression (sqrt is
    # correctly-rounded IEEE in both engines).
    sql["q205_ab_test"] = """
        WITH r AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
            FROM events
        ),
        u AS (
            SELECT user_id,
                   MAX(CASE WHEN rn = 1 AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS conv,
                   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS variant
            FROM r GROUP BY user_id
        ),
        a AS (SELECT COUNT(*)::BIGINT AS n_a,
                     SUM(conv)::BIGINT AS x_a
              FROM u WHERE variant = 'A'),
        b AS (SELECT COUNT(*)::BIGINT AS n_b,
                     SUM(conv)::BIGINT AS x_b
              FROM u WHERE variant = 'B')
        SELECT x_a, n_a, x_b, n_b,
               ROUND(x_a / n_a, 6) AS rate_a,
               ROUND(x_b / n_b, 6) AS rate_b,
               ROUND(CASE WHEN sqrt(((x_a + x_b) / (n_a + n_b))
                            * (1 - (x_a + x_b) / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)) > 0
                     THEN (x_a / n_a - x_b / n_b)
                          / sqrt(((x_a + x_b) / (n_a + n_b))
                                 * (1 - (x_a + x_b) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b))
                     ELSE 0.0 END, 6) AS z_score,
               ABS(CASE WHEN sqrt(((x_a + x_b) / (n_a + n_b))
                        * (1 - (x_a + x_b) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) > 0
                   THEN (x_a / n_a - x_b / n_b)
                        / sqrt(((x_a + x_b) / (n_a + n_b))
                               * (1 - (x_a + x_b) / (n_a + n_b))
                               * (1.0 / n_a + 1.0 / n_b))
                   ELSE 0.0 END) > 1.96 AS significant
        FROM a, b
    """

    # q206: the (ts, event_id) tiebreak window replayed.
    sql["q206_event_bigrams"] = """
        WITH s AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
            FROM events
        )
        SELECT prev || '>' || event_type AS transition,
               COUNT(*)::BIGINT AS n,
               COUNT(DISTINCT user_id)::BIGINT AS n_users
        FROM s WHERE prev IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, transition ASC
        LIMIT 20
    """

    # q202: THE ORACLE IS THE FULL RECOMPUTE — post-CDC state derived
    # directly from the base formula; the Spark side must reach it by
    # merging deltas into the maintained view.
    sql["q202_incremental_agg"] = """
        WITH o AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        old AS (
            SELECT o_orderpriority, COUNT(*)::BIGINT AS n_old,
                   SUM(cents)::BIGINT AS sum_cents_old
            FROM o GROUP BY o_orderpriority
        ),
        new_ AS (
            SELECT o_orderpriority,
                   COUNT(*) FILTER (WHERE o_orderkey % 11 <> 0)
                       ::BIGINT AS n_new,
                   (SUM(CASE WHEN o_orderkey % 11 = 0 THEN 0
                             WHEN o_orderkey % 7 = 0
                             THEN cents + cents // 10
                             ELSE cents END))::BIGINT AS sum_cents_new
            FROM o GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n_old, sum_cents_old, n_new,
               sum_cents_new
        FROM old JOIN new_ USING (o_orderpriority)
        WHERE n_new > 0
        ORDER BY o_orderpriority
    """

    # q203: packing + popcount join replayed.
    sql["q203_bitmap_intersections"] = """
        WITH ev AS (
            SELECT DISTINCT event_type, user_id AS u FROM events
        ),
        words AS (
            SELECT event_type, u // 32 AS w,
                   bit_or(1::BIGINT << CAST(u % 32 AS INT)) AS bits
            FROM ev GROUP BY event_type, u // 32
        ),
        singles AS (
            SELECT event_type, SUM(bit_count(bits))::BIGINT
                AS n_distinct
            FROM words GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   SUM(bit_count(a.bits & b.bits))::BIGINT
                       AS n_common
            FROM words a JOIN words b
                ON a.w = b.w AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT type_a, type_b,
               sa.n_distinct AS n_a, sb.n_distinct AS n_b, n_common,
               ROUND(n_common
                     / (sa.n_distinct + sb.n_distinct - n_common), 6)
                   AS jaccard
        FROM pairs
        JOIN singles sa ON sa.event_type = type_a
        JOIN singles sb ON sb.event_type = type_b
        ORDER BY type_a, type_b
    """

    # q199/q200/q201: classic TPC-H shapes — the oracle is the same
    # ANSI query DuckDB would run natively.
    sql["q199_min_cost_supplier"] = """
        WITH minp AS (
            SELECT l_partkey, MIN(l_extendedprice) AS min_price
            FROM lineitem GROUP BY l_partkey
        ),
        best AS (
            SELECT li.l_partkey AS pk, m.min_price,
                   MIN(li.l_suppkey) AS best_suppkey
            FROM lineitem li
            JOIN minp m ON m.l_partkey = li.l_partkey
                       AND li.l_extendedprice = m.min_price
            GROUP BY li.l_partkey, m.min_price
        )
        SELECT p_partkey, p_name, p_retailprice, min_price,
               s_suppkey, s_name, s_acctbal
        FROM best
        JOIN part ON p_partkey = pk
        JOIN supplier ON s_suppkey = best_suppkey
        WHERE p_type = 'STANDARD' AND p_size <= 10
        ORDER BY p_retailprice DESC, p_partkey ASC
        LIMIT 50
    """

    sql["q200_market_share"] = """
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_7'
                     THEN CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 2)
                   AS nation_rev,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS total_rev,
               ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_7'
                     THEN CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / CAST(SUM(CAST(l_extendedprice
                               * (1.0 - l_discount)
                               AS DECIMAL(18,4))) AS DOUBLE), 6)
                   AS mkt_share,
               COUNT(*)::BIGINT AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderdate >= '1996-01-01'
          AND o_orderdate < '1998-01-01'
        GROUP BY year(o_orderdate)
        ORDER BY o_year
    """

    sql["q201_late_shipment_priority"] = """
        SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders
        FROM orders o
        WHERE o_orderdate >= '1996-01-01'
          AND o_orderdate < '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """

    # q208: TPC-H Q21 shape verbatim — EXISTS + NOT EXISTS on the
    # same fact, TPC-H multiplicity (count over qualifying l1 rows).
    sql["q208_waiting_suppliers"] = """
        WITH late AS (
            SELECT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o
                 ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        )
        SELECT s.s_name, COUNT(*)::BIGINT AS numwait
        FROM late l1
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM late l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 100
    """

    # q222: Q20 shape — the textbook nested IN → IN → correlated
    # scalar spelling, replayed verbatim (DuckDB decorrelates it
    # itself); availqty by the same integer formula, the gate as the
    # same exact cross-multiplication.
    sql["q222_excess_stock_suppliers"] = """
        SELECT s.s_name, s.s_acctbal
        FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_1', 'NATION_3', 'NATION_5')
          AND s.s_suppkey IN (
            SELECT ps.ps_suppkey
            FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                         l_suppkey AS ps_suppkey FROM lineitem) ps
            WHERE ps.ps_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND ((ps.ps_partkey * 7 + ps.ps_suppkey * 13) % 50) * 2 >
                  (SELECT COALESCE(
                       SUM(l.l_quantity::DECIMAL(18,2)), 0)
                   FROM lineitem l
                   WHERE l.l_partkey = ps.ps_partkey
                     AND l.l_suppkey = ps.ps_suppkey
                     AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                     AND l.l_shipdate < TIMESTAMP '1998-01-01'))
        ORDER BY s.s_name
    """

    # q223: Q13 shape — the textbook outer-join-then-count nested
    # groupBy, proving the Spark side's pre-aggregation rewrite.
    sql["q223_order_count_distribution"] = """
        SELECT c_count, COUNT(*)::BIGINT AS custdist
        FROM (
            SELECT c.c_custkey,
                   COUNT(o.o_orderkey)::BIGINT AS c_count
            FROM customer c LEFT JOIN orders o
                 ON c.c_custkey = o.o_custkey
                AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """

    # q226: Q15 shape — the textbook view + scalar-max subquery; the
    # revenue sum stays DECIMAL so 'equals the max' is exact on both
    # engines.
    sql["q226_top_revenue_supplier"] = """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(18,4))) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               ROUND(CAST(r.total_rev AS DOUBLE), 2) AS total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
        ORDER BY s.s_suppkey
    """

    # q227: Q16 shape — NOT IN + COUNT(DISTINCT) over the derived
    # pair set, textbook spelling.
    sql["q227_supplier_part_counts"] = """
        SELECT p.p_brand, p.p_size,
               COUNT(DISTINCT ps.ps_suppkey)::BIGINT AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                     l_suppkey AS ps_suppkey FROM lineitem) ps
        JOIN part p ON p.p_partkey = ps.ps_partkey
        WHERE p.p_brand <> 'Brand#3'
          AND p.p_size IN (1, 9, 19, 23, 36, 45, 49)
          AND ps.ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
        GROUP BY p.p_brand, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """

    # q228: both Lloyd rounds unrolled — BIGINT per-dim sums, the
    # same (sum/1e9)/n IEEE division pair, q36's row_number
    # assignment tie-break, empty cells keep the previous centroid.
    _km_rounds = []
    for r in (1, 2):
        p = "seeds" if r == 1 else f"c{r - 1}"
        _km_rounds.append(f"""
        a{r} AS (
            SELECT vec_id, v, cell FROM (
                SELECT e.vec_id, e.v, s.cell,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, s.c)
                                        DESC, s.cell ASC) AS rk
                FROM e, {p} s) WHERE rk = 1),
        s{r} AS (
            SELECT cell, i AS dim,
                   SUM(CAST(FLOOR(v[i] * 1000000000.0 + 0.5)
                            AS BIGINT)) AS su,
                   COUNT(*) AS n
            FROM a{r}, range(1, 65) r(i)
            GROUP BY cell, i),
        c{r} AS (
            SELECT s.cell, COALESCE(n{r}.c_new, s.c) AS c
            FROM {p} s LEFT JOIN (
                SELECT cell,
                       list((su::DOUBLE / 1000000000.0) / n
                            ORDER BY dim) AS c_new
                FROM s{r} GROUP BY cell) n{r} ON n{r}.cell = s.cell)""")
    sql["q228_kmeans_refine"] = """
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS c
            FROM embeddings ORDER BY vec_id LIMIT 8
        ),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings),""" + ",".join(_km_rounds) + """,
        a3 AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, s.cell,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, s.c)
                                        DESC, s.cell ASC) AS rk
                FROM e, c2 s) WHERE rk = 1),
        census AS (SELECT cell, COUNT(*)::BIGINT AS n
                   FROM a3 GROUP BY cell)
        SELECT c2.cell,
               COALESCE(census.n, 0)::BIGINT AS n_members,
               md5(array_to_string(list_transform(c2.c,
                   d -> CAST(FLOOR(d * 1000000.0 + 0.5) AS BIGINT)),
                   ',')) AS centroid_fp
        FROM c2 LEFT JOIN census ON census.cell = c2.cell
        ORDER BY c2.cell
    """

    # q229: Q19 shape — the textbook OR-of-conjunctions spelling.
    sql["q229_disjunctive_revenue"] = """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS revenue,
               COUNT(*)::BIGINT AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """

    # q230: Q10 shape — textbook returned-item star join.
    sql["q230_returned_item_ranking"] = """
        SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
               ROUND(CAST(SUM(CAST(l.l_extendedprice
                                   * (1.0 - l.l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS revenue,
               COUNT(*)::BIGINT AS n_lines
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-07-01'
          AND o.o_orderdate <  TIMESTAMP '1996-10-01'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey ASC
        LIMIT 20
    """

    # q231-q235: the last five TPC-H shapes, textbook spellings.
    sql["q231_forecast_revenue_change"] = """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
                                   AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS revenue,
               COUNT(*)::BIGINT AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """

    sql["q232_nation_volume_shipping"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l.l_shipdate)::INT AS l_year,
               ROUND(CAST(SUM(CAST(l.l_extendedprice
                                   * (1.0 - l.l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_2'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """

    sql["q233_product_type_profit"] = """
        SELECT n.n_name AS nation,
               EXTRACT(YEAR FROM o.o_orderdate)::INT AS o_year,
               CAST(ROUND(SUM(
                   CAST(l.l_extendedprice * (1.0 - l.l_discount)
                        AS DECIMAL(18,4))
                   - CAST(((l.l_partkey * 11 + l.l_suppkey * 3) % 500
                           + 1) * l.l_quantity AS DECIMAL(18,2))
               ), 2) AS DOUBLE) AS sum_profit
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        WHERE l.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """

    sql["q234_shipmode_priority"] = """
        SELECT CASE WHEN l.l_linenumber % 3 = 0 THEN 'MAIL'
                    ELSE 'SHIP' END AS shipmode,
               SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_linenumber % 3 IN (0, 1)
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        GROUP BY 1 ORDER BY shipmode
    """

    # q237: the DPP result replayed over the unpartitioned table —
    # identical join semantics, month arithmetic on both engines.
    sql["q237_dpp_monthly_revenue"] = """
        WITH months AS (
            SELECT DISTINCT
                   (EXTRACT(YEAR FROM o_orderdate) * 100
                    + EXTRACT(MONTH FROM o_orderdate))::INT AS l_month
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate <  TIMESTAMP '1996-10-01'
        )
        SELECT m.l_month,
               CAST(ROUND(SUM(CAST(l.l_extendedprice
                                   * (1.0 - l.l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS revenue,
               COUNT(*)::BIGINT AS n_lines
        FROM lineitem l
        JOIN months m
          ON (EXTRACT(YEAR FROM l.l_shipdate) * 100
              + EXTRACT(MONTH FROM l.l_shipdate))::INT = m.l_month
        GROUP BY m.l_month
        ORDER BY m.l_month
    """

    # q238: CUBE replayed with GROUPING() labels on both engines —
    # explicit gid arithmetic so no bit-order convention is trusted.
    sql["q238_cube_pricing"] = """
        SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
                    ELSE l_returnflag END AS returnflag,
               CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
                    ELSE l_linestatus END AS linestatus,
               (GROUPING(l_returnflag) * 2
                + GROUPING(l_linestatus))::INT AS gid,
               COUNT(*)::BIGINT AS n_lines,
               CAST(ROUND(SUM(l_quantity::DECIMAL(18,2)), 2) AS DOUBLE)
                   AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS sum_rev
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, returnflag, linestatus
    """

    # q239: ROLLUP replayed with GROUPING() labels (-1 = subtotal).
    sql["q239_rollup_order_hierarchy"] = """
        SELECT (CASE WHEN GROUPING(y) = 1 THEN -1 ELSE y END)::INT
                   AS o_year,
               (CASE WHEN GROUPING(m) = 1 THEN -1 ELSE m END)::INT
                   AS o_month,
               (GROUPING(y) * 2 + GROUPING(m))::INT AS gid,
               COUNT(*)::BIGINT AS n_orders,
               CAST(ROUND(SUM(o_totalprice::DECIMAL(18,2)), 2)
                    AS DOUBLE) AS total_price
        FROM (SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
                     EXTRACT(MONTH FROM o_orderdate) AS m,
                     o_totalprice
              FROM orders)
        GROUP BY ROLLUP (y, m)
        ORDER BY gid, o_year, o_month
    """

    # q240: every window function replayed over the same single
    # partitioning; percent_rank/cume_dist are single exact-integer
    # divisions on both engines.
    sql["q240_window_battery"] = """
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER w AS rn,
               DATEDIFF('day', LAG(o_orderdate, 1) OVER w,
                        o_orderdate)::INT AS gap_prev_d,
               DATEDIFF('day', o_orderdate,
                        LEAD(o_orderdate, 1) OVER w)::INT AS gap_next_d,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume,
               ROUND(CAST(AVG(o_totalprice::DECIMAL(18,2)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                   AS DOUBLE), 4) AS mov_avg3
        FROM orders WHERE o_custkey <= 20
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, rn
    """

    # q241: bag semantics replayed with the textbook INTERSECT ALL /
    # EXCEPT ALL operators.
    sql["q241_multiset_ops"] = """
        WITH a AS (SELECT o_orderpriority AS prio,
                          EXTRACT(MONTH FROM o_orderdate)::INT AS m
                   FROM orders WHERE o_custkey % 2 = 0),
        b AS (SELECT o_orderpriority AS prio,
                     EXTRACT(MONTH FROM o_orderdate)::INT AS m
              FROM orders WHERE o_custkey % 2 = 1),
        u AS (
            SELECT 'intersect_all' AS section, prio, m
            FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
            UNION ALL
            SELECT 'except_all', prio, m
            FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        )
        SELECT section, prio, m, COUNT(*)::BIGINT AS n
        FROM u GROUP BY section, prio, m
        ORDER BY section, prio, m
    """

    sql["q235_promo_revenue_share"] = """
        WITH a AS (
            SELECT SUM(CASE WHEN p.p_type = 'PROMO'
                            THEN CAST(l.l_extendedprice
                                      * (1.0 - l.l_discount)
                                      AS DECIMAL(18,4))
                            ELSE CAST(0 AS DECIMAL(18,4)) END)
                       AS promo,
                   SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                            AS DECIMAL(18,4))) AS total
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
              AND l.l_shipdate <  TIMESTAMP '1997-10-01'
        )
        SELECT ROUND(100.0 * (promo::DOUBLE) / (total::DOUBLE), 4)
                   AS promo_revenue_pct,
               ROUND(promo::DOUBLE, 2) AS promo_revenue,
               ROUND(total::DOUBLE, 2) AS total_revenue
        FROM a
    """

    # q209: TPC-H Q22 shape — NOT EXISTS + scalar-average subquery;
    # the avg compare is the exact decimal cross-multiplication
    # (bal·n > sum), identical to the Spark plan, so no float
    # boundary can flap membership.
    sql["q209_untapped_customers"] = """
        WITH cc AS (
            SELECT c_custkey, c_nationkey,
                   c_acctbal::DECIMAL(18,2) AS bal
            FROM customer
            WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        ),
        st AS (
            SELECT SUM(bal) AS s, COUNT(*)::BIGINT AS n
            FROM cc WHERE bal > 0
        )
        SELECT c_nationkey AS cntrycode,
               COUNT(*)::BIGINT AS numcust,
               SUM(bal)::DOUBLE AS totacctbal
        FROM cc, st
        WHERE bal * n > s
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = cc.c_custkey
                AND o.o_orderdate >= '2001-01-01')
        GROUP BY c_nationkey
        ORDER BY cntrycode
    """

    # q211: Q17 shape — the correlated per-part avg decorrelated to a
    # self-joined group aggregate; the 0.2·avg gate replayed as the
    # same exact decimal cross-multiplication.
    sql["q211_small_quantity_revenue"] = """
        WITH li AS (
            SELECT l.l_partkey, p.p_brand,
                   l.l_quantity::DECIMAL(18,2) AS q,
                   l.l_extendedprice::DECIMAL(18,2) AS price
            FROM lineitem l JOIN part p
                 ON l.l_partkey = p.p_partkey
            WHERE p.p_size <= 5
        ),
        pp AS (
            SELECT l_partkey, SUM(q) AS sum_q, COUNT(*)::BIGINT AS cnt
            FROM li GROUP BY l_partkey
        )
        SELECT li.p_brand, COUNT(*)::BIGINT AS n_lines,
               ROUND((SUM(li.price) / 7)::DOUBLE, 4) AS avg_yearly
        FROM li JOIN pp ON li.l_partkey = pp.l_partkey
        WHERE li.q * 5 * pp.cnt < pp.sum_q
        GROUP BY li.p_brand
        ORDER BY li.p_brand
    """

    # q212: Q11 shape — HAVING against a global scalar, replayed with
    # the identical cross-multiplied decimal gate.
    sql["q212_important_parts"] = """
        WITH li AS (
            SELECT l.l_partkey,
                   l.l_extendedprice::DECIMAL(18,2) AS price
            FROM lineitem l
            WHERE EXISTS (
                SELECT 1 FROM supplier s JOIN nation n
                     ON s.s_nationkey = n.n_nationkey
                WHERE s.s_suppkey = l.l_suppkey
                  AND n.n_name = 'NATION_3')
        ),
        pp AS (
            SELECT l_partkey, SUM(price) AS value FROM li
            GROUP BY l_partkey
        ),
        tot AS (SELECT SUM(value) AS total FROM pp)
        SELECT l_partkey, value::DOUBLE AS value
        FROM pp, tot
        WHERE value * 1000 > total
        ORDER BY value DESC, l_partkey
    """

    # q214: per-column stats replayed as one aggregate per column
    # UNION ALL'd (the long format the Spark stack() emits).
    sql["q214_column_profile"] = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS "column", COUNT(*)::BIGINT AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_nulls,
               COUNT(DISTINCT {c})::BIGINT AS n_distinct,
               MIN({c})::VARCHAR AS min_s,
               MAX({c})::VARCHAR AS max_s
        FROM documents"""
        for c in ["doc_id", "lang", "source", "n_chars"]) \
        + ' ORDER BY "column"'

    # q215: the same join/window replay; credit in exact ppm via
    # integer floor division (1000000 // n), so the sums are BIGINT.
    sql["q215_attribution"] = """
        WITH p AS (
            SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ),
        t AS (
            SELECT user_id, event_type, ts AS t_ts
            FROM events
            WHERE event_type IN ('click', 'view', 'signup')
        ),
        a AS (
            SELECT p.p_id, t.event_type
            FROM p JOIN t ON t.user_id = p.p_user
                 AND t.t_ts < p.p_ts
                 AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
        ),
        n AS (SELECT p_id, COUNT(*) AS cnt FROM a GROUP BY p_id)
        SELECT a.event_type,
               COUNT(*)::BIGINT AS n_touches,
               COUNT(DISTINCT a.p_id)::BIGINT AS n_purchases,
               SUM(1000000 // n.cnt)::BIGINT AS credit_ppm
        FROM a JOIN n ON n.p_id = a.p_id
        GROUP BY a.event_type
        ORDER BY a.event_type
    """

    # q221: DuckDB's own nfc_normalize replays the normalization —
    # two independent Unicode implementations must agree byte-for-byte
    # (md5) and char-for-char; the ligature row pins NFC-not-NFKC.
    sql["q221_unicode_nfc"] = """
        WITH d AS (
            SELECT doc_id,
                   substring(text, 1, 10)
                   || ' e' || chr(769) || ' A' || chr(778) || ' '
                   || chr(8491) || ' ' || chr(64257) || ' '
                   || (doc_id % 7) AS raw
            FROM documents
        )
        SELECT doc_id,
               length(raw)::BIGINT AS n_chars_raw,
               length(nfc_normalize(raw))::BIGINT AS n_chars_nfc,
               md5(nfc_normalize(raw)) AS nfc_md5
        FROM d ORDER BY doc_id
    """

    # q220: the minimal change batch by formula — update rows carry
    # the NEW balance, deletes the old row, inserts the shifted keys.
    sql["q220_snapshot_diff"] = """
        SELECT c_custkey, c_name, c_nationkey,
               c_acctbal + 100 AS c_acctbal, c_mktsegment,
               'update' AS _op
        FROM customer WHERE c_custkey % 10 IN (1, 2)
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal,
               c_mktsegment, 'delete'
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'new_' || c_custkey, c_nationkey,
               0.0, 'NEW', 'insert'
        FROM customer WHERE c_custkey % 10 = 3
        ORDER BY c_custkey
    """

    # q219: edges by formula, min-propagation rounds unrolled — 3
    # labeling rounds plus the round-4 VERIFICATION pass (round-8
    # ADVICE demotion rule: a round-3 label survives only if round 4
    # improves neither fmin nor bmin).
    _scc_rounds = []
    for r in range(1, 5):
        p = r - 1
        _scc_rounds.append(f"""
        f{r} AS (SELECT e.f AS u, MIN(l{p}.fmin) AS m
                 FROM e JOIN l{p} ON e.t = l{p}.u GROUP BY e.f),
        b{r} AS (SELECT e.t AS u, MIN(l{p}.bmin) AS m
                 FROM e JOIN l{p} ON e.f = l{p}.u GROUP BY e.t),
        l{r} AS (SELECT l{p}.u,
                        LEAST(l{p}.fmin, COALESCE(f{r}.m, l{p}.fmin))
                            AS fmin,
                        LEAST(l{p}.bmin, COALESCE(b{r}.m, l{p}.bmin))
                            AS bmin
                 FROM l{p} LEFT JOIN f{r} ON l{p}.u = f{r}.u
                           LEFT JOIN b{r} ON l{p}.u = b{r}.u)""")
    # q243: the q219/q242 round unroll over the md5-permuted nation
    # ring (+ DAG tail), then ONE FW-BW peel replayed: pivot = min
    # demoted id (merge is a no-op here — all certificate classes are
    # singletons, which is exactly the split being gated), forward and
    # backward reachability as recursive CTEs, F∩B re-keyed to its
    # min. Tail nodes are in B but not F, so they keep -1: the
    # bounded-by-K residual, pinned at K=1.
    sql["q243_scc_exhaustive_peel"] = """
        WITH RECURSIVE seq AS (
            SELECT n_nationkey::BIGINT AS nid,
                   ROW_NUMBER() OVER (ORDER BY md5(n_name),
                                      n_nationkey) - 1 AS pos
            FROM nation WHERE n_nationkey < 16
        ),
        e AS (
            SELECT a.nid AS f, b.nid AS t
            FROM seq a JOIN seq b ON b.pos = a.pos + 1
            UNION ALL
            SELECT (SELECT nid FROM seq ORDER BY pos DESC LIMIT 1),
                   (SELECT nid FROM seq WHERE pos = 0)
            UNION ALL
            SELECT 100, (SELECT nid FROM seq WHERE pos = 0)
            UNION ALL
            SELECT 101, 100
        ),
        l0 AS (SELECT DISTINCT u, u AS fmin, u AS bmin FROM (
                   SELECT f AS u FROM e UNION ALL SELECT t FROM e)),"""\
        + ",".join(_scc_rounds[:3]) + """,
        -- MATERIALIZED: under WITH RECURSIVE DuckDB inlines these per
        -- reference; piv is referenced 3x and fin chains l0..l3, so
        -- un-materialized the planner re-expands the whole unroll
        -- into the recursive iteration and OOMs.
        fin AS MATERIALIZED (
                SELECT l2.u,
                       CASE WHEN l2.fmin = l2.bmin
                             AND l2.fmin = l3.fmin
                             AND l2.bmin = l3.bmin
                            THEN l2.fmin ELSE -1 END AS scc
                FROM l2 JOIN l3 ON l2.u = l3.u),
        reach(a, b) AS (
            SELECT f, t FROM e
            UNION
            SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.f
        ),
        piv AS MATERIALIZED (
                SELECT MIN(u) AS pv FROM fin WHERE scc = -1),
        scc1 AS (SELECT r1.b AS x
                 FROM reach r1 JOIN reach r2 ON r1.b = r2.a
                 WHERE r1.a = (SELECT pv FROM piv)
                   AND r2.b = (SELECT pv FROM piv)
                 UNION
                 SELECT pv FROM piv),
        k1 AS (SELECT MIN(x) AS k FROM scc1)
        SELECT fin.u AS node_id,
               fin.scc::BIGINT AS cert_scc,
               (CASE WHEN fin.u IN (SELECT x FROM scc1)
                     THEN (SELECT k FROM k1)
                     ELSE fin.scc END)::BIGINT AS exhaustive_scc
        FROM fin ORDER BY node_id
    """

    # q242: the q219 unroll (same six rounds + demotion) over the
    # per-document 10-node gadget, then the round-10 label-merge
    # closure replayed as a recursive-CTE transitive closure over the
    # certified (node, label) relations — comp(m) = min of each
    # relation class, exactly Spark's min-label CC at convergence.
    # A demoted node named by someone's certificate is healed by the
    # COALESCE (it is in comp), mirroring the operator.
    sql["q242_scc_label_merge"] = """
        WITH RECURSIVE g(lf, lt) AS (
            VALUES (7,5),(5,6),(6,2),(2,3),(3,4),(4,7),
                   (2,9),(9,0),(0,8),(8,2),(1,0)
        ),
        e AS (SELECT doc_id * 16 + lf AS f, doc_id * 16 + lt AS t
              FROM documents CROSS JOIN g),
        l0 AS (SELECT DISTINCT u, u AS fmin, u AS bmin FROM (
                   SELECT f AS u FROM e UNION ALL SELECT t FROM e)),"""\
        + ",".join(_scc_rounds) + """,
        fin AS (SELECT l3.u,
                       CASE WHEN l3.fmin = l3.bmin
                             AND l3.fmin = l4.fmin
                             AND l3.bmin = l4.bmin
                            THEN l3.fmin ELSE -1 END AS scc
                FROM l3 JOIN l4 ON l3.u = l4.u),
        rel AS (SELECT u AS a, scc AS b FROM fin WHERE scc >= 0
                UNION
                SELECT scc, u FROM fin WHERE scc >= 0),
        reach(a, b) AS (
            SELECT a, b FROM rel
            UNION
            SELECT r.a, rel.b FROM reach r JOIN rel ON r.b = rel.a
        ),
        comp AS (SELECT a, LEAST(a, MIN(b)) AS m
                 FROM reach GROUP BY a),
        merged AS (SELECT fin.u,
                          COALESCE(comp.m, fin.scc) AS scc
                   FROM fin LEFT JOIN comp ON fin.u = comp.a)
        SELECT u % 16 AS local_node,
               CASE WHEN scc < 0 THEN -1 ELSE scc % 16 END AS local_scc,
               COUNT(*)::BIGINT AS n_nodes
        FROM merged GROUP BY 1, 2 ORDER BY local_node, local_scc
    """

    sql["q219_bounded_scc"] = """
        WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        e AS (
            SELECT doc_id AS f,
                   (doc_id * 7 + 3) % (SELECT n FROM nn) AS t
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM nn)
            FROM documents
        ),
        l0 AS (SELECT doc_id AS u, doc_id AS fmin, doc_id AS bmin
               FROM documents),""" + ",".join(_scc_rounds) + """
        SELECT CASE WHEN l3.fmin = l3.bmin AND l3.fmin = l4.fmin
                     AND l3.bmin = l4.bmin
               THEN l3.fmin ELSE -1 END AS scc_id,
               COUNT(*)::BIGINT AS n_nodes
        FROM l3 JOIN l4 ON l3.u = l4.u GROUP BY 1 ORDER BY scc_id
    """

    # q218: every MERGE clause replayed — deletes drop, updates add
    # 100, the matched 'insert' and unmatched 'delete' no-op clauses
    # leave no trace, inserts appear under shifted keys.
    sql["q218_merge_into"] = """
        SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_custkey % 10 IN (1, 2)
                    THEN c_acctbal + 100 ELSE c_acctbal END
                   AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 10 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, 'new_' || c_custkey,
               c_nationkey, 0.0, 'NEW'
        FROM customer WHERE c_custkey % 10 = 3
        ORDER BY c_custkey
    """

    # q217: the streaming result is boundary-independent, so the
    # oracle is the batch join+aggregate verbatim.
    sql["q217_stream_static_enrich"] = """
        SELECT c.c_mktsegment, e.event_type,
               COUNT(*)::BIGINT AS n,
               SUM(e.value::DECIMAL(18,4))::DOUBLE AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
        ORDER BY c.c_mktsegment, e.event_type
    """

    # q216: per-block facts by formula — block 0's md5 pins the LZ4
    # encode→decode round trip; block 1's CASE pins the corruption
    # flip; content_ok pins the xxh32 content checksum itself.
    sql["q216_lz4_frames"] = """
        WITH d AS (
            SELECT doc_id,
                   'B0:' || repeat(substring(text, 1, 20) || '~', 12)
                       AS b0,
                   'B1:' || substring(text, 1, 40) || '|' || source
                       AS b1
            FROM documents
        ),
        p AS (SELECT doc_id, b0, b1, unnest(range(0, 2)) AS i FROM d)
        SELECT 'm_' || doc_id AS media_id,
               i::INT AS block_idx,
               (i = 1) AS stored,
               (CASE WHEN i = 1 THEN strlen(b1) END)::BIGINT
                   AS stored_bytes,
               (CASE WHEN i = 0 THEN strlen(b0)
                     ELSE strlen(b1) END)::BIGINT AS block_bytes,
               CASE WHEN i = 0 THEN md5(b0)
                    WHEN doc_id % 6 = 0
                        THEN md5('@' || substring(b1, 2))
                    ELSE md5(b1) END AS block_md5,
               NOT (doc_id % 6 = 0) AS content_ok
        FROM p ORDER BY media_id, block_idx
    """

    # q210: every packet fact regenerated by formula — the md5s pin
    # the reassembled bytes (including the post-CRC corruption flip on
    # every 7th doc), the span count pins the lacing walk, crc_ok pins
    # the CRC table itself.
    # q224: every Matroska block fact regenerated by formula — the
    # md5s pin the reassembled frames across all three lacing modes
    # (including the post-CRC corruption flip on every 7th doc's
    # fixed-laced block), ts_ms pins the cluster-ts + relative-ts
    # arithmetic, crc_ok pins the EBML CRC-32 element itself.
    sql["q224_mkv_blocks"] = """
        WITH d AS (
            SELECT doc_id, text, source,
                   substring(repeat(text || '|', 300), 1, 300) AS b300,
                   substring(repeat('F:' || text || '|', 600), 1, 600)
                       AS b600
            FROM documents
        ),
        p AS (SELECT doc_id, text, source, b300, b600,
                     unnest(range(0, 4)) AS i
              FROM d)
        SELECT 'm_' || doc_id AS media_id,
               CASE WHEN doc_id % 4 = 0 THEN 'webm'
                    ELSE 'matroska' END AS doctype,
               (i // 2)::INT AS cluster_idx,
               (i % 2)::INT AS block_idx,
               (1 + i % 2)::INT AS track,
               (1000 * (i // 2 + 1) + doc_id % 7
                + 20 * (i % 2))::BIGINT AS ts_ms,
               (i % 2 = 0) AS keyframe,
               CASE i WHEN 0 THEN 'none' WHEN 1 THEN 'xiph'
                      WHEN 2 THEN 'fixed' ELSE 'ebml' END AS lacing,
               (CASE i WHEN 0 THEN 1 WHEN 1 THEN 3
                       WHEN 2 THEN 4 ELSE 2 END)::INT AS n_frames,
               (CASE i
                   WHEN 0 THEN 3 + strlen(substring(text, 1, 40))
                   WHEN 1 THEN 3 + strlen(source) + 3 + 300
                               + 3 + strlen(substring(text, 1, 15))
                   WHEN 2 THEN 600
                   ELSE 3 + strlen(substring(text, 1, 20))
                        + 3 + strlen(source) + 1
                END)::BIGINT AS n_bytes,
               CASE i
                   WHEN 0 THEN md5('k0:' || substring(text, 1, 40))
                   WHEN 1 THEN md5('a0:' || source || 'a1:' || b300
                                   || 'a2:' || substring(text, 1, 15))
                   WHEN 2 THEN CASE WHEN doc_id % 7 = 0
                                    THEN md5('G' || substring(b600, 2))
                                    ELSE md5(b600) END
                   ELSE md5('e0:' || substring(text, 1, 20)
                            || 'e1:' || source || '#')
               END AS frames_md5,
               NOT (i >= 2 AND doc_id % 7 = 0) AS crc_ok
        FROM p ORDER BY media_id, cluster_idx, block_idx
    """

    sql["q210_ogg_packets"] = """
        WITH d AS (
            SELECT doc_id, text, source,
                   substring(text, 1, 40) AS t40,
                   substring(repeat(text || '|', 600), 1, 594) AS body
            FROM documents
        ),
        p AS (
            SELECT doc_id, text, source, t40, body,
                   unnest(range(0, 5)) AS i
            FROM d
        )
        SELECT 'm_' || doc_id AS media_id,
               i::INT AS packet_idx,
               CASE WHEN i = 0 THEN 'vorbis_id'
                    WHEN i = 1 THEN 'comment'
                    ELSE 'data' END AS kind,
               (CASE WHEN i = 0 THEN 30
                     WHEN i = 1 THEN 4 + strlen(source)
                     WHEN i = 3 THEN 600
                     ELSE 6 + strlen(t40) END)::BIGINT AS n_bytes,
               (CASE WHEN i = 3 THEN 2 ELSE 1 END)::INT
                   AS pages_spanned,
               (i = 0) AS bos,
               (i = 4) AS eos,
               ((doc_id % 5 + 1) * 1000 + i * 960)::BIGINT AS granule,
               NOT (doc_id % 7 = 0 AND i = 2) AS crc_ok,
               (CASE WHEN i = 0 THEN 8000 * (1 + doc_id % 4)
                     END)::INT AS sample_rate,
               (CASE WHEN i = 0 THEN 1 + doc_id % 2 END)::INT
                   AS channels,
               CASE WHEN i = 0 THEN NULL
                    WHEN i = 1 THEN md5('cmt:' || source)
                    WHEN i = 2 THEN md5(
                        (CASE WHEN doc_id % 7 = 0 THEN 'q'
                              ELSE 'p' END) || 'kt:0:' || t40)
                    WHEN i = 3 THEN md5('pkt:1:' || body)
                    ELSE md5('pkt:2:' || t40) END AS content_md5
        FROM p ORDER BY media_id, packet_idx
    """

    # q195: formula replay — version residue, rename, typed defaults.
    sql["q195_schema_drift"] = """
        SELECT doc_id, (doc_id % 3)::INT AS version,
               CASE WHEN doc_id % 3 = 0 THEN 'und' ELSE lang END
                   AS lang,
               CASE WHEN doc_id % 3 = 2 THEN source
                    ELSE 'unknown' END AS src,
               md5(text) AS text_md5
        FROM documents ORDER BY doc_id
    """

    # q196/q197/q198: the q188 liveness formula replayed at pinned
    # versions / through the window binning / against range probes.
    sql["q196_delta_time_travel"] = """
        WITH d AS (SELECT doc_id AS f FROM documents),
        s AS (
            SELECT f, f % 8 AS va, f % 4 AS part,
                   1000 + (f * 37) % 5000 AS size,
                   10 + (f * 13) % 90 AS nrec,
                   f * 100 AS minid,
                   f % 8 + 1 + (f % 3) AS vrm
            FROM d
        ),
        st AS (
            SELECT *,
                   (f % 5 = 0 AND vrm <= 7) AS removed,
                   (f % 10 = 0 AND vrm <= 7) AS readded
            FROM s
        ),
        snap AS (
            SELECT 4 AS as_of, part, size AS esize, nrec AS enrec
            FROM st
            WHERE va <= 4 AND NOT (removed AND vrm <= 4)
            UNION ALL
            SELECT 8, part,
                   CASE WHEN readded THEN size + 11 ELSE size END,
                   CASE WHEN readded THEN nrec + 5 ELSE nrec END
            FROM st
            WHERE va <= 8 AND (NOT (removed AND vrm <= 8) OR readded)
        )
        SELECT part::INT AS part, COUNT(*)::BIGINT AS n_files,
               SUM(esize)::BIGINT AS n_bytes,
               SUM(enrec)::BIGINT AS n_records, as_of::INT AS as_of
        FROM snap GROUP BY as_of, part ORDER BY as_of, part
    """

    sql["q197_compaction_plan"] = """
        WITH d AS (SELECT doc_id AS f FROM documents),
        s AS (
            SELECT f, f % 8 AS va, f % 4 AS part,
                   1000 + (f * 37) % 5000 AS size,
                   10 + (f * 13) % 90 AS nrec,
                   f * 100 AS minid,
                   f % 8 + 1 + (f % 3) AS vrm
            FROM d
        ),
        st AS (
            SELECT *,
                   (f % 5 = 0 AND vrm <= 7) AS removed,
                   (f % 10 = 0 AND vrm <= 7) AS readded
            FROM s
        ),
        live AS (
            SELECT part,
                   'part-' || lpad(f::VARCHAR, 5, '0') || '.parquet'
                       AS path,
                   CASE WHEN readded THEN size + 11 ELSE size END
                       AS size
            FROM st WHERE NOT removed OR readded
        ),
        c AS (
            SELECT part, path, size,
                   SUM(size) OVER (PARTITION BY part ORDER BY path
                                   ROWS UNBOUNDED PRECEDING) AS cum
            FROM live
        )
        SELECT part::INT AS part,
               ((cum - size) // 8000)::INT AS bin,
               COUNT(*)::BIGINT AS n_files,
               SUM(size)::BIGINT AS bin_bytes,
               MIN(path) AS first_path, MAX(path) AS last_path
        FROM c GROUP BY part, (cum - size) // 8000
        ORDER BY part, bin
    """

    sql["q198_zonemap_audit"] = """
        WITH d AS (SELECT doc_id AS f FROM documents),
        s AS (
            SELECT f, f % 8 AS va, f % 4 AS part,
                   1000 + (f * 37) % 5000 AS size,
                   10 + (f * 13) % 90 AS nrec,
                   f * 100 AS minid,
                   f % 8 + 1 + (f % 3) AS vrm
            FROM d
        ),
        st AS (
            SELECT *,
                   (f % 5 = 0 AND vrm <= 7) AS removed,
                   (f % 10 = 0 AND vrm <= 7) AS readded
            FROM s
        ),
        live AS (
            SELECT part, minid AS min_id,
                   CASE WHEN readded THEN minid + nrec + 4
                        ELSE minid + nrec - 1 END AS max_id,
                   CASE WHEN readded THEN nrec + 5 ELSE nrec END
                       AS nrec
            FROM st WHERE NOT removed OR readded
        ),
        nd AS (SELECT COUNT(*) AS n FROM documents),
        q AS (
            SELECT probe, probe * 10 * n AS lo,
                   probe * 10 * n + 5 * n - 1 AS hi
            FROM (SELECT unnest(range(0, 10)) AS probe), nd
        )
        SELECT probe::INT AS probe, lo::BIGINT AS lo,
               hi::BIGINT AS hi,
               COUNT(*)::BIGINT AS n_total,
               SUM(CASE WHEN max_id >= lo AND min_id <= hi
                   THEN 1 ELSE 0 END)::BIGINT AS n_scanned,
               SUM(CASE WHEN max_id >= lo AND min_id <= hi
                   THEN nrec ELSE 0 END)::BIGINT AS est_records,
               ROUND((COUNT(*) - SUM(CASE WHEN max_id >= lo
                          AND min_id <= hi THEN 1 ELSE 0 END))
                     / COUNT(*), 6) AS pruned_frac
        FROM live, q GROUP BY probe, lo, hi ORDER BY probe
    """

    # q194: direction rule + EXISTS reciprocity + a<b<c triangle
    # join + Newman moment formula replayed term-for-term.
    sql["q194_graph_stats"] = """
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem
        ),
        p AS (
            SELECT a.pk AS u, b.pk AS v
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
        ),
        dir AS (
            SELECT u AS f, v AS t FROM p
            UNION ALL
            SELECT v, u FROM p WHERE (u + v) % 3 = 0
        ),
        md AS (SELECT COUNT(*)::BIGINT AS m_directed FROM dir),
        rc AS (
            SELECT COUNT(*)::BIGINT AS n_reciprocal
            FROM dir d
            WHERE EXISTS (SELECT 1 FROM dir r
                          WHERE r.f = d.t AND r.t = d.f)
        ),
        nn AS (
            SELECT COUNT(DISTINCT n)::BIGINT AS n_nodes
            FROM (SELECT u AS n FROM p UNION ALL SELECT v FROM p)
        ),
        mu_ AS (SELECT COUNT(*)::BIGINT AS m_undirected FROM p),
        deg AS (
            SELECT n, COUNT(*)::BIGINT AS deg
            FROM (SELECT u AS n FROM p UNION ALL SELECT v FROM p)
            GROUP BY n
        ),
        wg AS (SELECT SUM(deg * (deg - 1) // 2)::BIGINT AS wedges
               FROM deg),
        tr AS (
            SELECT COUNT(*)::BIGINT AS triangles
            FROM p e1 JOIN p e2 ON e1.v = e2.u
                 JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        bd AS (SELECT u AS x, v AS y FROM p
               UNION ALL SELECT v, u FROM p),
        jj AS (
            SELECT dx.deg AS j, dy.deg AS k
            FROM bd JOIN deg dx ON dx.n = bd.x
                    JOIN deg dy ON dy.n = bd.y
        ),
        s AS (
            SELECT SUM(j * k)::BIGINT AS s_jk,
                   SUM(j + k)::BIGINT AS s_sum,
                   SUM(j * j + k * k)::BIGINT AS s_sq,
                   COUNT(*)::BIGINT AS m2
            FROM jj
        )
        SELECT n_nodes, m_directed, n_reciprocal,
               ROUND(CASE WHEN m_directed > 0
                     THEN n_reciprocal / m_directed
                     ELSE 0.0 END, 6) AS reciprocity,
               m_undirected, triangles, wedges,
               ROUND(CASE WHEN wedges > 0
                     THEN (3 * triangles) / wedges
                     ELSE 0.0 END, 6) AS gcc,
               s_jk, s_sum, s_sq,
               ROUND(CASE WHEN (s_sq / (2 * m2)
                               - (s_sum / (2 * m2))
                                 * (s_sum / (2 * m2))) <> 0
                     THEN (s_jk / m2 - (s_sum / (2 * m2))
                                       * (s_sum / (2 * m2)))
                          / (s_sq / (2 * m2)
                             - (s_sum / (2 * m2))
                               * (s_sum / (2 * m2)))
                     ELSE 0.0 END, 6) AS assortativity
        FROM nn, md, rc, mu_, tr, wg, s
    """

    # q193: md5 uniform + shared-literal Poisson thresholds + BIGINT
    # weighted sums replayed.
    sql["q193_bootstrap_ci"] = """
        WITH reps AS (SELECT unnest(range(0, 20)) AS b),
        r AS (
            SELECT b, n_chars,
                   CAST(list_sum(list_transform(range(0, 8),
                        j -> (strpos('0123456789abcdef',
                              substr(md5('boot:' || b || ':' || doc_id),
                                     j::INT + 1, 1)) - 1)
                             * power(16, 7 - j))) AS BIGINT) % 10000
                       AS u
            FROM documents, reps
        ),
        k AS (SELECT b, n_chars, CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1 WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3 WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5 WHEN u < 9999 THEN 6 ELSE 7 END AS k FROM r)
        SELECT b::INT AS replicate, SUM(k)::BIGINT AS n_eff,
               SUM(k * n_chars)::BIGINT AS wsum,
               ROUND(CASE WHEN SUM(k) > 0
                     THEN SUM(k * n_chars) / SUM(k)
                     ELSE 0.0 END, 6) AS mean
        FROM k GROUP BY b ORDER BY replicate
    """

    # q192: integer binning + BIGINT gap/Brier numerators replayed;
    # one float division per metric on both sides.
    sql["q192_calibration"] = """
        WITH d AS (
            SELECT doc_id, (doc_id * 17) % 100 AS k,
                   (doc_id * 31) % 100 AS r
            FROM documents
        ),
        rows_t AS (
            SELECT k * 10 + 5 AS cu,
                   CASE WHEN r < k THEN 1 ELSE 0 END AS lb
            FROM d
        ),
        b AS (
            SELECT (cu * 10) // 1000 AS bin, COUNT(*) AS n,
                   SUM(lb) AS positives, SUM(cu) AS conf_u_sum
            FROM rows_t GROUP BY 1
        ),
        g AS (SELECT SUM(ABS(1000 * positives - conf_u_sum))
                  AS ece_num FROM b),
        t AS (SELECT COUNT(*) AS n_tot,
                     SUM((cu - 1000 * lb) * (cu - 1000 * lb))
                         AS brier_num
              FROM rows_t)
        SELECT bin::INT AS bin, n::BIGINT AS n,
               positives::BIGINT AS positives,
               conf_u_sum::BIGINT AS conf_u_sum,
               ABS(1000 * positives - conf_u_sum)::BIGINT AS gap_num,
               ROUND(positives / n, 6) AS accuracy,
               ROUND(conf_u_sum / (1000.0 * n), 6) AS confidence,
               ROUND(ece_num / (1000.0 * n_tot), 6) AS ece,
               ROUND(brier_num / (1000000.0 * n_tot), 6) AS brier
        FROM b, g, t ORDER BY bin
    """

    # q191: the six char-gram clip joins + the exact summation-order
    # effective-order averaging replayed.
    sql["q191_chrf_eval"] = """
        WITH p AS (
            SELECT doc_id,
                   replace(array_to_string(
                       string_split(text, ' ')[2:13], ' '), ' ', '')
                       AS sc,
                   replace(array_to_string(
                       string_split(text, ' ')[1:20], ' '), ' ', '')
                       AS sr
            FROM documents
        ),
        ccg1 AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sc) - 1 + 2),
                             i -> substr(sc, CAST(i AS INT), 1)))
                             AS g
                  FROM p WHERE strlen(sc) >= 1)
            GROUP BY doc_id, g
        ),
        crg1 AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sr) - 1 + 2),
                             i -> substr(sr, CAST(i AS INT), 1)))
                             AS g
                  FROM p WHERE strlen(sr) >= 1)
            GROUP BY doc_id, g
        ),
        cm1 AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM ccg1 a JOIN crg1 b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        ctc1 AS (SELECT doc_id, SUM(nc) AS t FROM ccg1
                   GROUP BY doc_id),
        ctr1 AS (SELECT doc_id, SUM(nr) AS t FROM crg1
                   GROUP BY doc_id),
        ccg2 AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sc) - 2 + 2),
                             i -> substr(sc, CAST(i AS INT), 2)))
                             AS g
                  FROM p WHERE strlen(sc) >= 2)
            GROUP BY doc_id, g
        ),
        crg2 AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sr) - 2 + 2),
                             i -> substr(sr, CAST(i AS INT), 2)))
                             AS g
                  FROM p WHERE strlen(sr) >= 2)
            GROUP BY doc_id, g
        ),
        cm2 AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM ccg2 a JOIN crg2 b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        ctc2 AS (SELECT doc_id, SUM(nc) AS t FROM ccg2
                   GROUP BY doc_id),
        ctr2 AS (SELECT doc_id, SUM(nr) AS t FROM crg2
                   GROUP BY doc_id),
        ccg3 AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sc) - 3 + 2),
                             i -> substr(sc, CAST(i AS INT), 3)))
                             AS g
                  FROM p WHERE strlen(sc) >= 3)
            GROUP BY doc_id, g
        ),
        crg3 AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sr) - 3 + 2),
                             i -> substr(sr, CAST(i AS INT), 3)))
                             AS g
                  FROM p WHERE strlen(sr) >= 3)
            GROUP BY doc_id, g
        ),
        cm3 AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM ccg3 a JOIN crg3 b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        ctc3 AS (SELECT doc_id, SUM(nc) AS t FROM ccg3
                   GROUP BY doc_id),
        ctr3 AS (SELECT doc_id, SUM(nr) AS t FROM crg3
                   GROUP BY doc_id),
        ccg4 AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sc) - 4 + 2),
                             i -> substr(sc, CAST(i AS INT), 4)))
                             AS g
                  FROM p WHERE strlen(sc) >= 4)
            GROUP BY doc_id, g
        ),
        crg4 AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sr) - 4 + 2),
                             i -> substr(sr, CAST(i AS INT), 4)))
                             AS g
                  FROM p WHERE strlen(sr) >= 4)
            GROUP BY doc_id, g
        ),
        cm4 AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM ccg4 a JOIN crg4 b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        ctc4 AS (SELECT doc_id, SUM(nc) AS t FROM ccg4
                   GROUP BY doc_id),
        ctr4 AS (SELECT doc_id, SUM(nr) AS t FROM crg4
                   GROUP BY doc_id),
        ccg5 AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sc) - 5 + 2),
                             i -> substr(sc, CAST(i AS INT), 5)))
                             AS g
                  FROM p WHERE strlen(sc) >= 5)
            GROUP BY doc_id, g
        ),
        crg5 AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sr) - 5 + 2),
                             i -> substr(sr, CAST(i AS INT), 5)))
                             AS g
                  FROM p WHERE strlen(sr) >= 5)
            GROUP BY doc_id, g
        ),
        cm5 AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM ccg5 a JOIN crg5 b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        ctc5 AS (SELECT doc_id, SUM(nc) AS t FROM ccg5
                   GROUP BY doc_id),
        ctr5 AS (SELECT doc_id, SUM(nr) AS t FROM crg5
                   GROUP BY doc_id),
        ccg6 AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sc) - 6 + 2),
                             i -> substr(sc, CAST(i AS INT), 6)))
                             AS g
                  FROM p WHERE strlen(sc) >= 6)
            GROUP BY doc_id, g
        ),
        crg6 AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(
                             range(1, strlen(sr) - 6 + 2),
                             i -> substr(sr, CAST(i AS INT), 6)))
                             AS g
                  FROM p WHERE strlen(sr) >= 6)
            GROUP BY doc_id, g
        ),
        cm6 AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM ccg6 a JOIN crg6 b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        ctc6 AS (SELECT doc_id, SUM(nc) AS t FROM ccg6
                   GROUP BY doc_id),
        ctr6 AS (SELECT doc_id, SUM(nr) AS t FROM crg6
                   GROUP BY doc_id)
        SELECT p.doc_id,
               COALESCE(cm1.m, 0)::BIGINT AS m1,
               COALESCE(ctc1.t, 0)::BIGINT AS tc1,
               COALESCE(ctr1.t, 0)::BIGINT AS tr1,
               COALESCE(cm2.m, 0)::BIGINT AS m2,
               COALESCE(ctc2.t, 0)::BIGINT AS tc2,
               COALESCE(ctr2.t, 0)::BIGINT AS tr2,
               COALESCE(cm3.m, 0)::BIGINT AS m3,
               COALESCE(ctc3.t, 0)::BIGINT AS tc3,
               COALESCE(ctr3.t, 0)::BIGINT AS tr3,
               COALESCE(cm4.m, 0)::BIGINT AS m4,
               COALESCE(ctc4.t, 0)::BIGINT AS tc4,
               COALESCE(ctr4.t, 0)::BIGINT AS tr4,
               COALESCE(cm5.m, 0)::BIGINT AS m5,
               COALESCE(ctc5.t, 0)::BIGINT AS tc5,
               COALESCE(ctr5.t, 0)::BIGINT AS tr5,
               COALESCE(cm6.m, 0)::BIGINT AS m6,
               COALESCE(ctc6.t, 0)::BIGINT AS tc6,
               COALESCE(ctr6.t, 0)::BIGINT AS tr6,
               ROUND(CASE WHEN 4.0 * (CASE WHEN ((CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN 1 ELSE 0 END)) > 0 THEN (0.0 + (CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN COALESCE(cm1.m, 0) / COALESCE(ctc1.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN COALESCE(cm2.m, 0) / COALESCE(ctc2.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN COALESCE(cm3.m, 0) / COALESCE(ctc3.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN COALESCE(cm4.m, 0) / COALESCE(ctc4.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN COALESCE(cm5.m, 0) / COALESCE(ctc5.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN COALESCE(cm6.m, 0) / COALESCE(ctc6.t, 0) ELSE 0.0 END)) / ((CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN 1 ELSE 0 END)) ELSE 0.0 END) + (CASE WHEN ((CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN 1 ELSE 0 END)) > 0 THEN (0.0 + (CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN COALESCE(cm1.m, 0) / COALESCE(ctr1.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN COALESCE(cm2.m, 0) / COALESCE(ctr2.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN COALESCE(cm3.m, 0) / COALESCE(ctr3.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN COALESCE(cm4.m, 0) / COALESCE(ctr4.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN COALESCE(cm5.m, 0) / COALESCE(ctr5.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN COALESCE(cm6.m, 0) / COALESCE(ctr6.t, 0) ELSE 0.0 END)) / ((CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN 1 ELSE 0 END)) ELSE 0.0 END) > 0
                     THEN (1 + 4.0) * (CASE WHEN ((CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN 1 ELSE 0 END)) > 0 THEN (0.0 + (CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN COALESCE(cm1.m, 0) / COALESCE(ctc1.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN COALESCE(cm2.m, 0) / COALESCE(ctc2.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN COALESCE(cm3.m, 0) / COALESCE(ctc3.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN COALESCE(cm4.m, 0) / COALESCE(ctc4.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN COALESCE(cm5.m, 0) / COALESCE(ctc5.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN COALESCE(cm6.m, 0) / COALESCE(ctc6.t, 0) ELSE 0.0 END)) / ((CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN 1 ELSE 0 END)) ELSE 0.0 END) * (CASE WHEN ((CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN 1 ELSE 0 END)) > 0 THEN (0.0 + (CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN COALESCE(cm1.m, 0) / COALESCE(ctr1.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN COALESCE(cm2.m, 0) / COALESCE(ctr2.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN COALESCE(cm3.m, 0) / COALESCE(ctr3.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN COALESCE(cm4.m, 0) / COALESCE(ctr4.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN COALESCE(cm5.m, 0) / COALESCE(ctr5.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN COALESCE(cm6.m, 0) / COALESCE(ctr6.t, 0) ELSE 0.0 END)) / ((CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN 1 ELSE 0 END)) ELSE 0.0 END)
                          / (4.0 * (CASE WHEN ((CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN 1 ELSE 0 END)) > 0 THEN (0.0 + (CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN COALESCE(cm1.m, 0) / COALESCE(ctc1.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN COALESCE(cm2.m, 0) / COALESCE(ctc2.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN COALESCE(cm3.m, 0) / COALESCE(ctc3.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN COALESCE(cm4.m, 0) / COALESCE(ctc4.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN COALESCE(cm5.m, 0) / COALESCE(ctc5.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN COALESCE(cm6.m, 0) / COALESCE(ctc6.t, 0) ELSE 0.0 END)) / ((CASE WHEN COALESCE(ctc1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctc6.t, 0) > 0 THEN 1 ELSE 0 END)) ELSE 0.0 END) + (CASE WHEN ((CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN 1 ELSE 0 END)) > 0 THEN (0.0 + (CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN COALESCE(cm1.m, 0) / COALESCE(ctr1.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN COALESCE(cm2.m, 0) / COALESCE(ctr2.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN COALESCE(cm3.m, 0) / COALESCE(ctr3.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN COALESCE(cm4.m, 0) / COALESCE(ctr4.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN COALESCE(cm5.m, 0) / COALESCE(ctr5.t, 0) ELSE 0.0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN COALESCE(cm6.m, 0) / COALESCE(ctr6.t, 0) ELSE 0.0 END)) / ((CASE WHEN COALESCE(ctr1.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr2.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr3.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr4.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr5.t, 0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN COALESCE(ctr6.t, 0) > 0 THEN 1 ELSE 0 END)) ELSE 0.0 END))
                     ELSE 0.0 END, 6) AS chrf
        FROM p LEFT JOIN cm1 ON cm1.doc_id = p.doc_id LEFT JOIN ctc1 ON ctc1.doc_id = p.doc_id LEFT JOIN ctr1 ON ctr1.doc_id = p.doc_id LEFT JOIN cm2 ON cm2.doc_id = p.doc_id LEFT JOIN ctc2 ON ctc2.doc_id = p.doc_id LEFT JOIN ctr2 ON ctr2.doc_id = p.doc_id LEFT JOIN cm3 ON cm3.doc_id = p.doc_id LEFT JOIN ctc3 ON ctc3.doc_id = p.doc_id LEFT JOIN ctr3 ON ctr3.doc_id = p.doc_id LEFT JOIN cm4 ON cm4.doc_id = p.doc_id LEFT JOIN ctc4 ON ctc4.doc_id = p.doc_id LEFT JOIN ctr4 ON ctr4.doc_id = p.doc_id LEFT JOIN cm5 ON cm5.doc_id = p.doc_id LEFT JOIN ctc5 ON ctc5.doc_id = p.doc_id LEFT JOIN ctr5 ON ctr5.doc_id = p.doc_id LEFT JOIN cm6 ON cm6.doc_id = p.doc_id LEFT JOIN ctc6 ON ctc6.doc_id = p.doc_id LEFT JOIN ctr6 ON ctr6.doc_id = p.doc_id
        ORDER BY p.doc_id
    """

    # q190: view-derived aggregates of the same columns the Spark
    # side decodes byte-by-byte — the strongest oracle shape (q184's
    # design, now over the DATA path, value-exactly).
    _q190_parts = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col,"
        f" COUNT({c}) AS n_values,"
        f" COUNT(*) - COUNT({c}) AS n_nulls,"
        f" SUM({c}) AS vsum, MIN({c}) AS vmin, MAX({c}) AS vmax"
        f" FROM {t}"
        for t, c in [("customer", "c_custkey"), ("documents", "doc_id"),
                     ("embeddings", "vec_id"), ("events", "event_id"),
                     ("lineitem", "l_orderkey"),
                     ("orders", "o_orderkey"),
                     ("part", "p_partkey"), ("supplier", "s_suppkey")])
    sql["q190_parquet_column_decode"] = f"""
        SELECT tbl, col, n_values::BIGINT AS n_values,
               n_nulls::BIGINT AS n_nulls, vsum::BIGINT AS vsum,
               vmin::BIGINT AS vmin, vmax::BIGINT AS vmax
        FROM ({_q190_parts}) ORDER BY tbl
    """

    # q244: q190's oracle design over the BYTE_ARRAY data path —
    # view-derived counts/min/max/length-sum plus DuckDB's own md5
    # folded exactly as the Spark-side Python fold (first 15 hex
    # digits as BIGINT, summed mod 2^61-1).
    _q244_m = (1 << 61) - 1
    _q244_parts = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col,"
        f" COUNT({c}) AS n_values,"
        f" COUNT(*) - COUNT({c}) AS n_nulls,"
        f" MIN({c}) AS vmin, MAX({c}) AS vmax,"
        f" COALESCE(SUM(LENGTH({c})), 0) AS len_sum,"
        f" (SUM(('0x' || substr(md5({c}), 1, 15))::BIGINT)"
        f"  % {_q244_m}) AS md5_fold"
        f" FROM {t}"
        for t, c in [("customer", "c_mktsegment"),
                     ("documents", "lang"), ("documents", "source"),
                     ("events", "event_type"), ("nation", "n_name"),
                     ("orders", "o_orderpriority"),
                     ("part", "p_brand"), ("region", "r_name"),
                     ("supplier", "s_name")])
    sql["q244_parquet_string_decode"] = f"""
        SELECT tbl, col, n_values::BIGINT AS n_values,
               n_nulls::BIGINT AS n_nulls, vmin, vmax,
               len_sum::BIGINT AS len_sum,
               md5_fold::BIGINT AS md5_fold
        FROM ({_q244_parts}) ORDER BY tbl, col
    """

    # q245: the delta-family decode — same md5-fold design as q244;
    # int64 columns fold their decimal text (CAST AS VARCHAR ==
    # Python str(int) for integers).
    _q245_parts = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col, '{e}' AS enc,"
        f" COUNT({c}) AS n_values,"
        f" COUNT(*) - COUNT({c}) AS n_nulls,"
        f" (SUM(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))"
        f"::BIGINT) % {_q244_m}) AS md5_fold"
        f" FROM {t}"
        for t, c, e in [
            ("customer", "c_mktsegment", "DELTA_LENGTH_BYTE_ARRAY"),
            ("documents", "lang", "DELTA_BYTE_ARRAY"),
            ("events", "event_id", "DELTA_BINARY_PACKED"),
            ("nation", "n_nationkey", "DELTA_BINARY_PACKED"),
            ("orders", "o_orderkey", "DELTA_BINARY_PACKED"),
            ("part", "p_brand", "DELTA_LENGTH_BYTE_ARRAY"),
            ("region", "r_regionkey", "DELTA_BINARY_PACKED"),
            ("supplier", "s_name", "DELTA_BYTE_ARRAY")])
    sql["q245_parquet_delta_decode"] = f"""
        SELECT tbl, col, enc, n_values::BIGINT AS n_values,
               n_nulls::BIGINT AS n_nulls,
               md5_fold::BIGINT AS md5_fold
        FROM ({_q245_parts}) ORDER BY tbl, col
    """

    # q246: the GZIP/LZ4_RAW page-codec decode — q245's md5-fold
    # design over codec/page-version/dictionary axes; the codec and
    # dpv labels are plan constants, the folds are recomputed from
    # the views.
    _q246_parts = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col, '{cd}' AS codec,"
        f" '{v}' AS dpv,"
        f" COUNT({c}) AS n_values,"
        f" COUNT(*) - COUNT({c}) AS n_nulls,"
        f" (SUM(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))"
        f"::BIGINT) % {_q244_m}) AS md5_fold"
        f" FROM {t}"
        for t, c, cd, v in [
            ("customer", "c_name", "gzip", "1.0"),
            ("documents", "source", "lz4", "2.0"),
            ("events", "user_id", "gzip", "2.0"),
            ("nation", "n_regionkey", "lz4", "1.0"),
            ("orders", "o_custkey", "lz4", "1.0"),
            ("part", "p_type", "gzip", "2.0"),
            ("region", "r_name", "lz4", "2.0"),
            ("supplier", "s_suppkey", "gzip", "1.0")])
    sql["q246_parquet_codec_decode"] = f"""
        SELECT tbl, col, codec, dpv, n_values::BIGINT AS n_values,
               n_nulls::BIGINT AS n_nulls,
               md5_fold::BIGINT AS md5_fold
        FROM ({_q246_parts}) ORDER BY tbl, col
    """

    # q189: q184's oracle design for ORC — view-derived COUNT(*) +
    # information_schema vs the hand-rolled protobuf footer walk.
    _q189_parts = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, (SELECT COUNT(*) FROM {t}) AS num_rows,"
        f" (SELECT COUNT(*) FROM information_schema.columns"
        f"  WHERE table_name = '{t}') AS n_cols"
        for t in ["customer", "documents", "embeddings", "events",
                  "nation", "part", "region", "supplier"])
    sql["q189_orc_footer"] = f"""
        SELECT tbl, num_rows::BIGINT AS num_rows,
               n_cols::INT AS n_top_columns,
               true AS stripe_sum_consistent,
               'zlib' AS compression
        FROM ({_q189_parts}) ORDER BY tbl
    """

    # q188: liveness + stats formulas replayed — a path/window/
    # liveness bug on the Spark side (which parses real JSON lines)
    # diverges from this direct formula replay.
    sql["q188_delta_snapshot"] = """
        WITH d AS (SELECT doc_id AS f FROM documents),
        s AS (
            SELECT f, f % 8 AS va, f % 4 AS part,
                   1000 + (f * 37) % 5000 AS size,
                   10 + (f * 13) % 90 AS nrec,
                   f * 100 AS minid,
                   f % 8 + 1 + (f % 3) AS vrm
            FROM d
        ),
        st AS (
            SELECT *,
                   (f % 5 = 0 AND vrm <= 7) AS removed,
                   (f % 10 = 0 AND vrm <= 7) AS readded
            FROM s
        ),
        live AS (
            SELECT part,
                   CASE WHEN readded THEN size + 11 ELSE size END
                       AS size,
                   CASE WHEN readded THEN nrec + 5 ELSE nrec END
                       AS nrec,
                   minid,
                   CASE WHEN readded THEN minid + nrec + 4
                        ELSE minid + nrec - 1 END AS maxid
            FROM st WHERE NOT removed OR readded
        )
        SELECT part::INT AS part, COUNT(*)::BIGINT AS n_files,
               SUM(size)::BIGINT AS n_bytes,
               SUM(nrec)::BIGINT AS n_records,
               MIN(minid)::BIGINT AS min_id,
               MAX(maxid)::BIGINT AS max_id,
               'parquet' AS provider
        FROM live GROUP BY part ORDER BY part
    """

    # q187: the whole eval harness replayed — same quantized discount
    # integers (ir_disc_u), same BIGINT floor-div AP terms, same
    # tiebreaks; only the five final per-metric divisions are float.
    from memory_engine_spark.operators.ranking import ir_disc_u
    _disc_vals = ", ".join(
        f"({r + 1}, {d})" for r, d in enumerate(ir_disc_u(10)))
    _terms_vals = ", ".join(f"('{t}')" for t in IR_TERMS)
    sql["q187_ir_eval"] = f"""
        WITH terms(term) AS (VALUES {_terms_vals}),
        disc(rnk, du) AS (VALUES {_disc_vals}),
        j AS (
            SELECT term, doc_id,
                   len(list_filter(string_split(text, ' ')[1:15],
                       x -> x = term))::BIGINT AS score,
                   LEAST(2, len(list_filter(string_split(text, ' ')[16:],
                       x -> x = term)))::INT AS rel
            FROM documents, terms
        ),
        ret AS (
            SELECT term, doc_id, score, rel,
                   ROW_NUMBER() OVER (PARTITION BY term
                       ORDER BY score DESC, doc_id ASC) AS rnk,
                   SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY term
                             ORDER BY score DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cumrel
            FROM j WHERE score > 0
        ),
        retm AS (
            SELECT term, COUNT(*)::BIGINT AS n_ret,
                   MIN(CASE WHEN rel > 0 THEN ret.rnk END)
                       AS first_rel,
                   SUM(CASE WHEN ret.rnk <= 10 AND rel > 0
                       THEN 1 ELSE 0 END)::BIGINT AS hits_k,
                   SUM(CASE WHEN ret.rnk <= 10
                       THEN (CAST(power(2, rel) AS BIGINT) - 1) * du
                       ELSE 0 END)::BIGINT AS dcg_u,
                   SUM(CASE WHEN rel > 0
                       THEN (1000000000 * cumrel) // ret.rnk
                       ELSE 0 END)::BIGINT AS ap_u
            FROM ret LEFT JOIN disc ON disc.rnk = ret.rnk
            GROUP BY term
        ),
        ideal AS (
            SELECT term, doc_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY term
                       ORDER BY rel DESC, doc_id ASC) AS irank
            FROM j
        ),
        idm AS (
            SELECT term,
                   SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_rel,
                   SUM(CASE WHEN irank <= 10 AND rel > 0
                       THEN (CAST(power(2, rel) AS BIGINT) - 1) * du
                       ELSE 0 END)::BIGINT AS idcg_u
            FROM ideal LEFT JOIN disc ON disc.rnk = ideal.irank
            GROUP BY term
        )
        SELECT i.term, i.n_rel,
               COALESCE(r.n_ret, 0)::BIGINT AS n_ret,
               COALESCE(r.dcg_u, 0)::BIGINT AS dcg_u,
               i.idcg_u,
               COALESCE(r.ap_u, 0)::BIGINT AS ap_u,
               ROUND(CASE WHEN r.first_rel IS NOT NULL
                     THEN 1.0 / r.first_rel ELSE 0.0 END, 6) AS mrr,
               ROUND(COALESCE(r.hits_k, 0) / 10.0, 6) AS p_at_10,
               ROUND(CASE WHEN i.n_rel > 0
                     THEN COALESCE(r.hits_k, 0) / i.n_rel
                     ELSE 0.0 END, 6) AS r_at_10,
               ROUND(CASE WHEN i.idcg_u > 0
                     THEN COALESCE(r.dcg_u, 0) / i.idcg_u
                     ELSE 0.0 END, 6) AS ndcg_at_10,
               ROUND(CASE WHEN i.n_rel > 0
                     THEN COALESCE(r.ap_u, 0)
                          / (1000000000.0 * i.n_rel)
                     ELSE 0.0 END, 6) AS map
        FROM idm i LEFT JOIN retm r ON r.term = i.term
        ORDER BY i.term
    """

    # q186: both clip joins + the P/R/F1 ratios replayed — integer
    # match/total components pin the windows and the clipping; only
    # the three rounded-6dp ratios are float.
    _r_ctes, _r_joins, _r_cols = [], "", []
    for n in (1, 2):
        _r_ctes.append(f"""
        rcg{n} AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(tc) - {n} + 2),
                             i -> array_to_string(
                                 tc[CAST(i AS INT):CAST(i AS INT) + {n} - 1],
                                 ' '))) AS g
                  FROM p WHERE len(tc) >= {n})
            GROUP BY doc_id, g
        ),
        rrg{n} AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(tr) - {n} + 2),
                             i -> array_to_string(
                                 tr[CAST(i AS INT):CAST(i AS INT) + {n} - 1],
                                 ' '))) AS g
                  FROM p WHERE len(tr) >= {n})
            GROUP BY doc_id, g
        ),
        rm{n} AS (
            SELECT a.doc_id, SUM(LEAST(a.nc, b.nr)) AS m
            FROM rcg{n} a JOIN rrg{n} b
                ON a.doc_id = b.doc_id AND a.g = b.g
            GROUP BY a.doc_id
        ),
        rtc{n} AS (SELECT doc_id, SUM(nc) AS t FROM rcg{n}
                   GROUP BY doc_id),
        rtr{n} AS (SELECT doc_id, SUM(nr) AS t FROM rrg{n}
                   GROUP BY doc_id)""")
        _r_joins += (f" LEFT JOIN rm{n} ON rm{n}.doc_id = p.doc_id"
                     f" LEFT JOIN rtc{n} ON rtc{n}.doc_id = p.doc_id"
                     f" LEFT JOIN rtr{n} ON rtr{n}.doc_id = p.doc_id")
        _m = f"COALESCE(rm{n}.m, 0)"
        _tc = f"COALESCE(rtc{n}.t, 0)"
        _tr = f"COALESCE(rtr{n}.t, 0)"
        _r_cols.append(f"""
               {_m}::BIGINT AS match{n},
               {_tc}::BIGINT AS cand_tot{n},
               {_tr}::BIGINT AS ref_tot{n},
               ROUND(CASE WHEN {_tc} > 0
                     THEN {_m} / {_tc} ELSE 0.0 END, 6) AS rouge{n}_p,
               ROUND(CASE WHEN {_tr} > 0
                     THEN {_m} / {_tr} ELSE 0.0 END, 6) AS rouge{n}_r,
               ROUND(CASE WHEN {_m} > 0
                     THEN 2 * ({_m} / {_tc}) * ({_m} / {_tr})
                          / ({_m} / {_tc} + {_m} / {_tr})
                     ELSE 0.0 END, 6) AS rouge{n}_f""")
    sql["q186_rouge_eval"] = f"""
        WITH p AS (
            SELECT doc_id,
                   string_split(text, ' ')[2:13] AS tc,
                   string_split(text, ' ')[1:20] AS tr
            FROM documents
        ),{",".join(_r_ctes)}
        SELECT p.doc_id,{",".join(_r_cols)}
        FROM p{_r_joins}
        ORDER BY p.doc_id
    """

    # q185: record facts from the formula — negative ids pin the
    # zigzag decode, block count from the 2-record blocking rule.
    sql["q185_avro_container"] = """
        WITH d AS (
            SELECT doc_id, text, 3 + doc_id % 4 AS nr FROM documents
        ),
        e AS (
            SELECT doc_id, text, nr, unnest(range(0, nr)) AS k FROM d
        ),
        b AS (
            SELECT doc_id, nr, k,
                   CASE WHEN k = 1 THEN -(doc_id + 1)
                        ELSE doc_id * 10 + k END AS pair_id,
                   'rec ' || doc_id || ' ' || k || ' '
                       || substr(text, 1, 40) AS body
            FROM e
        )
        SELECT 'm_' || doc_id AS media_id, k::INT AS rec_idx,
               pair_id::BIGINT AS pair_id, md5(body) AS text_md5,
               CASE WHEN doc_id % 3 = 0 THEN 'deflate'
                    ELSE 'null' END AS codec,
               CAST(ceil(nr / 2.0) AS INT) AS n_blocks
        FROM b ORDER BY media_id, rec_idx
    """

    # q184: no formula anywhere — the DuckDB side derives the same
    # facts from the registered views (COUNT(*) and
    # information_schema), so the hash is two independent parquet
    # implementations agreeing about the same real files.
    _q184_tables = ["region", "nation", "customer", "supplier",
                    "part", "orders", "lineitem", "events",
                    "documents", "embeddings"]
    _q184_parts = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, (SELECT COUNT(*) FROM {t}) AS num_rows,"
        f" (SELECT COUNT(*) FROM information_schema.columns"
        f"  WHERE table_name = '{t}') AS n_cols"
        for t in _q184_tables)
    sql["q184_parquet_footer"] = f"""
        SELECT tbl, num_rows::BIGINT AS num_rows,
               n_cols::INT AS n_top_columns,
               true AS rg_sum_consistent
        FROM ({_q184_parts}) ORDER BY tbl
    """

    # q183: record facts from the formula; the zero-length record
    # pins the empty-payload CRC path.
    sql["q183_tfrecord_entries"] = """
        WITH d AS (
            SELECT doc_id, text, 2 + doc_id % 3 AS nr FROM documents
        ),
        e AS (
            SELECT doc_id, text, unnest(range(0, nr)) AS k FROM d
        ),
        b AS (
            SELECT doc_id, k,
                   CASE WHEN k = 1 AND doc_id % 4 = 0 THEN ''
                        ELSE 'ex ' || doc_id || ' ' || k || ' ' || text
                   END AS body
            FROM e
        )
        SELECT 'm_' || doc_id AS media_id, k::INT AS rec_idx,
               strlen(body)::BIGINT AS n_bytes, md5(body) AS body_md5
        FROM b ORDER BY media_id, rec_idx
    """

    # q182: entry facts from the member formula; method follows the
    # synth's deflate_every=2 alternation (members 1 are Deflate),
    # and the first member's decoy local-header signature is inert
    # for a central-directory reader — which is what the hash proves.
    sql["q182_zip_entries"] = """
        WITH d AS (
            SELECT doc_id, text FROM documents
        ),
        e AS (
            SELECT doc_id, text, unnest(range(0, 3)) AS k FROM d
        ),
        b AS (
            SELECT doc_id, k,
                   CASE k
                     WHEN 0 THEN 'PK' || chr(3) || chr(4)
                                 || ' decoy body ' || doc_id || ' 0 '
                                 || text
                     WHEN 1 THEN 'body ' || doc_id || ' 1 ' || text
                     ELSE 'body ' || doc_id || ' 2'
                   END AS body,
                   CASE WHEN k % 2 = 1 THEN 8 ELSE 0 END AS method
            FROM e
        )
        SELECT 'm_' || doc_id AS media_id, k::INT AS entry_idx,
               'doc' || doc_id || '/m' || k AS name,
               method::INT AS method,
               strlen(body)::BIGINT AS n_bytes,
               md5(body) AS body_md5
        FROM b ORDER BY media_id, entry_idx
    """

    # q181: entry facts from the member formula; the empty-member
    # case pins zero-size padding arithmetic.
    sql["q181_tar_entries"] = """
        WITH d AS (
            SELECT doc_id, text, 2 + doc_id % 2 AS ne FROM documents
        ),
        e AS (
            SELECT doc_id, text, unnest(range(0, ne)) AS k FROM d
        ),
        b AS (
            SELECT doc_id, k,
                   CASE WHEN k = 1 AND doc_id % 3 = 0 THEN ''
                        ELSE 'shard ' || doc_id || ' member ' || k
                             || ' ' || text END AS body
            FROM e
        )
        SELECT 'm_' || doc_id AS media_id, k::INT AS entry_idx,
               'doc' || doc_id || '/part' || k || '.txt' AS name,
               strlen(body)::BIGINT AS n_bytes,
               md5(body) AS body_md5
        FROM b ORDER BY media_id, entry_idx
    """

    # q180: all four clipped n-gram precisions + BP replayed; the
    # per-n CTE groups are generated to keep the join structure
    # identical across n. Integer components pin the counts exactly;
    # bleu itself is ln/exp at rounded 6dp on both sides.
    _g_ctes = []
    for n in range(1, 5):
        _g_ctes.append(f"""
        cg{n} AS (
            SELECT doc_id, g, COUNT(*) AS nc
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(tc) - {n} + 2),
                             i -> array_to_string(
                                 tc[CAST(i AS INT):CAST(i AS INT) + {n} - 1],
                                 ' '))) AS g
                  FROM p WHERE len(tc) >= {n})
            GROUP BY doc_id, g
        ),
        rg{n} AS (
            SELECT doc_id, g, COUNT(*) AS nr
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(tr) - {n} + 2),
                             i -> array_to_string(
                                 tr[CAST(i AS INT):CAST(i AS INT) + {n} - 1],
                                 ' '))) AS g
                  FROM p WHERE len(tr) >= {n})
            GROUP BY doc_id, g
        ),
        c{n} AS (
            SELECT a.doc_id,
                   SUM(LEAST(a.nc, b.nr)) AS clip{n}
            FROM cg{n} a JOIN rg{n} b USING (doc_id, g)
            GROUP BY a.doc_id
        ),
        t{n} AS (
            SELECT doc_id, SUM(nc) AS tot{n} FROM cg{n}
            GROUP BY doc_id
        )""")
    _joins = "".join(
        f" LEFT JOIN c{n} USING (doc_id) LEFT JOIN t{n} USING (doc_id)"
        for n in range(1, 5))
    _cols = ", ".join(
        f"COALESCE(clip{n}, 0)::BIGINT AS clip{n}" for n in range(1, 5)
    ) + ", " + ", ".join(
        f"COALESCE(tot{n}, 0)::BIGINT AS tot{n}" for n in range(1, 5))
    _pn = " + ".join(
        f"ln(COALESCE(clip{n}, 0)::DOUBLE / COALESCE(tot{n}, 1))"
        for n in range(1, 5))
    _zero = " OR ".join(
        f"COALESCE(clip{n}, 0) = 0 OR COALESCE(tot{n}, 0) = 0"
        for n in range(1, 5))
    sql["q180_bleu_eval"] = f"""
        WITH p AS (
            SELECT doc_id,
                   string_split(text, ' ')[3:18] AS tc,
                   string_split(text, ' ')[1:20] AS tr
            FROM documents
        ),{",".join(_g_ctes)}
        SELECT p.doc_id,
               len(tc)::BIGINT AS cand_len,
               len(tr)::BIGINT AS ref_len,
               {_cols},
               ROUND(CASE WHEN {_zero} THEN 0.0
                     ELSE (CASE WHEN len(tc) >= len(tr) THEN 1.0
                           ELSE exp(1.0 - len(tr)::DOUBLE / len(tc))
                           END)
                          * exp(({_pn}) / 4) END, 6) AS bleu
        FROM p{_joins}
        ORDER BY p.doc_id
    """

    # q179: q156's per-channel formula replay with the q179 constants
    # — the Spark side must get identical sums out of a real IFD walk
    # + strip reassembly in BOTH byte orders.
    sql["q179_tiff_pixels"] = """
        WITH d AS (
            SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h
            FROM documents
        ),
        rows_t AS (
            SELECT doc_id, w, h, unnest(range(0, h)) AS r FROM d
        ),
        cells AS (
            SELECT doc_id, w, h, r, unnest(range(0, w)) AS c
            FROM rows_t
        ),
        px AS (
            SELECT doc_id, w, h, ch,
                   (doc_id * 19 + r * 13 + c * 7 + ch * 5) % 256 AS v
            FROM (SELECT doc_id, w, h, r, c,
                         unnest(range(0, 3)) AS ch
                  FROM cells)
        )
        SELECT 'm_' || doc_id AS media_id,
               w::INT AS width, h::INT AS height, 3::INT AS channels,
               SUM(CASE WHEN ch = 0 THEN v END)::BIGINT AS s0,
               SUM(CASE WHEN ch = 1 THEN v END)::BIGINT AS s1,
               SUM(CASE WHEN ch = 2 THEN v END)::BIGINT AS s2,
               SUM(CASE WHEN ch = 0 THEN v * v END)::BIGINT AS q0,
               SUM(CASE WHEN ch = 1 THEN v * v END)::BIGINT AS q1,
               SUM(CASE WHEN ch = 2 THEN v * v END)::BIGINT AS q2
        FROM px GROUP BY doc_id, w, h ORDER BY media_id
    """

    # q178: template + prefix-sum window arithmetic replayed; literal
    # lengths computed with length() (not hand-counted), so the hash
    # pins the exact template byte layout and the 1-based offsets.
    sql["q178_chat_render"] = """
        WITH t AS (
            SELECT doc_id, CAST(r AS INT) AS round,
                   'Q' || r || ' ' || substr(text, 1 + r * 20, 24)
                       AS u,
                   'A' || r || ' ' || substr(text, 5 + r * 10, 18)
                       AS a
            FROM (SELECT doc_id, text,
                         unnest(range(0, 2 + doc_id % 2)) AS r
                  FROM documents)
        ),
        b AS (
            SELECT doc_id, round, u, a,
                   '<|user|>' || u || '<|end|>'
                   || '<|assistant|>' || a || '<|end|>' AS blk
            FROM t
        ),
        p AS (
            SELECT doc_id, round, u, a, blk,
                   length('<|system|>You are helpful.<|end|>')
                   + COALESCE(SUM(length(blk)) OVER (
                         PARTITION BY doc_id ORDER BY round
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS prefix
            FROM b
        ),
        rend AS (
            SELECT doc_id,
                   '<|system|>You are helpful.<|end|>'
                   || string_agg(blk, '' ORDER BY round) AS s
            FROM b GROUP BY doc_id
        )
        SELECT p.doc_id, p.round,
               (p.prefix + length('<|user|>') + length(p.u)
                + length('<|end|>') + length('<|assistant|>')
                + 1)::BIGINT AS asst_start,
               length(p.a)::BIGINT AS asst_len,
               md5(rend.s) AS render_md5,
               length(rend.s)::BIGINT AS total_chars
        FROM p JOIN rend ON p.doc_id = rend.doc_id
        ORDER BY p.doc_id, p.round
    """

    # q177: the whole denoising transform replayed — md5 coin via the
    # q65 hex trick, the same gaps-and-islands grouping, ordered
    # string_aggs; md5 of input/target pins token order, sentinel
    # numbering, and span boundaries at once.
    sql["q177_span_corruption"] = """
        WITH toks AS (
            SELECT doc_id, CAST(i AS INT) - 1 AS pos,
                   parts[CAST(i AS INT)] AS tok
            FROM (SELECT doc_id, text,
                         string_split(text, ' ') AS parts
                  FROM documents),
                 LATERAL unnest(range(1, len(parts) + 1)) AS t(i)
        ),
        coin AS (
            SELECT doc_id, pos, tok,
                   (CAST(list_sum(list_transform(range(0, 4),
                        j -> (strpos('0123456789abcdef',
                              substr(md5('t5:' || doc_id || ':' || pos),
                                     j::INT + 1, 1)) - 1)
                             * power(16, 3 - j))) AS BIGINT) % 5 = 0)
                       AS m
            FROM toks
        ),
        masked AS (
            SELECT doc_id, pos, tok,
                   pos - row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS grp
            FROM coin WHERE m
        ),
        spans AS (
            SELECT doc_id, grp, MIN(pos) AS strt,
                   COUNT(*) AS n_toks,
                   string_agg(tok, ' ' ORDER BY pos) AS hidden
            FROM masked GROUP BY doc_id, grp
        ),
        ks AS (
            SELECT doc_id, strt, n_toks, hidden,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY strt) - 1 AS k
            FROM spans
        ),
        inp AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY pos) AS input_text
            FROM (
                SELECT doc_id, pos, tok FROM coin WHERE NOT m
                UNION ALL
                SELECT doc_id, strt AS pos,
                       '<extra_id_' || k || '>' AS tok
                FROM ks
            ) GROUP BY doc_id
        ),
        tgt AS (
            SELECT doc_id, COUNT(*) AS n_spans,
                   SUM(n_toks) AS n_masked,
                   string_agg('<extra_id_' || k || '> ' || hidden,
                              ' ' ORDER BY k) AS t
            FROM ks GROUP BY doc_id
        )
        SELECT d.doc_id,
               md5(COALESCE(i.input_text, d.text)) AS input_md5,
               md5(CASE WHEN t.t IS NULL THEN '<extra_id_0>'
                        ELSE t.t || ' <extra_id_'
                             || t.n_spans || '>' END) AS target_md5,
               COALESCE(t.n_spans, 0)::INT AS n_spans,
               COALESCE(t.n_masked, 0)::BIGINT AS n_masked
        FROM documents d
        LEFT JOIN inp i USING (doc_id)
        LEFT JOIN tgt t USING (doc_id)
        ORDER BY d.doc_id
    """

    # q176: per-page texts regenerated from the formula — the texts
    # contain parentheses, so the md5 additionally pins PDF string
    # escaping on both twins.
    sql["q176_pdf_text"] = """
        WITH d AS (
            SELECT doc_id, 1 + doc_id % 3 AS np FROM documents
        ),
        p AS (
            SELECT doc_id, unnest(range(0, np)) AS k FROM d
        ),
        t AS (
            SELECT doc_id, k,
                   'Doc ' || doc_id || ' page ' || k || ' (sec '
                   || (doc_id % 7) || ') body' AS txt
            FROM p
        )
        SELECT 'm_' || doc_id AS media_id, k::INT AS page_idx,
               strlen(txt)::BIGINT AS n_chars, md5(txt) AS text_md5
        FROM t ORDER BY media_id, page_idx
    """

    # q175: the sitemap entry grid replayed — kind dispatch by doc,
    # per-entry optional fields, spec default priority 0.5.
    sql["q175_sitemap_parse"] = """
        WITH d AS (
            SELECT doc_id, doc_id % 5 AS h, doc_id % 3 AS nm,
                   doc_id % 7 AS p
            FROM documents
        ),
        us AS (
            SELECT doc_id, h, nm, p, unnest(range(0, nm + 1)) AS k
            FROM d WHERE p <> 0
        ),
        urlset AS (
            SELECT doc_id AS host, 'urlset' AS kind,
                   k::INT AS url_idx,
                   'https://site' || h || '.org/p' || p || '/' || k
                       AS loc,
                   CASE WHEN k < nm
                        THEN '2024-0' || ((doc_id + k) % 9 + 1)
                             || '-15' END AS lastmod,
                   CASE WHEN k < nm
                        THEN ('0.' || (k + 3))::DOUBLE
                        ELSE 0.5 END AS priority
            FROM us
        ),
        idx AS (
            SELECT doc_id AS host, 'sitemapindex' AS kind,
                   k::INT AS url_idx,
                   'https://site' || h || '.org/sitemap-'
                   || (CASE k WHEN 0 THEN 'a' ELSE 'b' END)
                   || '.xml' AS loc,
                   CASE WHEN k = 0 THEN '2024-02-01' END AS lastmod,
                   0.5 AS priority
            FROM (SELECT doc_id, h, unnest(range(0, 2)) AS k
                  FROM d WHERE p = 0)
        )
        SELECT * FROM urlset
        UNION ALL SELECT * FROM idx
        ORDER BY host, url_idx
    """

    # q174: expected decoded strings regenerated as SQL literals (the
    # source file is UTF-8; DuckDB md5 hashes the string's UTF-8
    # bytes — the same canonical re-encoding the Spark stage emits).
    sql["q174_charset_decode"] = """
        WITH d AS (
            SELECT doc_id, 'doc ' || doc_id || ' café ' || (doc_id % 7)
                       AS base,
                   doc_id % 4 AS v
            FROM documents
        ),
        t AS (
            SELECT doc_id, v,
                   CASE v WHEN 0 THEN base || ' snow ☃'
                          WHEN 1 THEN base || ' æther'
                          WHEN 2 THEN base || ' utf16'
                          ELSE base || ' sig' END AS txt,
                   CASE v WHEN 0 THEN 'utf-8'
                          WHEN 1 THEN 'latin-1'
                          WHEN 2 THEN 'utf-16-le'
                          ELSE 'utf-8-sig' END AS charset
            FROM d
        )
        SELECT 'm_' || doc_id AS media_id, charset,
               length(txt)::BIGINT AS n_chars, md5(txt) AS text_md5
        FROM t ORDER BY media_id
    """

    # q173: per-member facts regenerated from the body formula —
    # compressed bytes are never hashed (compressor output varies by
    # build); the decoded member inventory is the contract.
    sql["q173_gzip_members"] = """
        WITH d AS (
            SELECT doc_id, text, 2 + doc_id % 3 AS nm FROM documents
        ),
        m AS (
            SELECT doc_id, text, unnest(range(0, nm)) AS k FROM d
        ),
        b AS (
            SELECT doc_id, k,
                   'doc ' || doc_id || ' member ' || k || ' ' || text
                       AS body
            FROM m
        )
        SELECT 'm_' || doc_id AS media_id, k::INT AS member_idx,
               strlen(body)::BIGINT AS n_bytes, md5(body) AS body_md5
        FROM b ORDER BY media_id, member_idx
    """

    # q172: the ENTIRE robots evaluator replayed relationally — line
    # explode, comment strip, window-based UA-group formation (lag +
    # running sum), exact-token-over-star scoping, rule→regex
    # translation (same escape order), longest-rule-octets arg_max
    # with Allow winning ties. Rule lengths are all distinct per
    # host, so matched_rule is deterministic cross-engine.
    sql["q172_robots_gate"] = """
        WITH u AS (
            SELECT doc_id, 'site' || (doc_id % 5) || '.org' AS host,
                   CASE doc_id % 6
                     WHEN 0 THEN '/h' || (doc_id % 5) || '/private/x'
                     WHEN 1 THEN '/h' || (doc_id % 5) || '/private/ok/p'
                     WHEN 2 THEN '/pub/p' || (doc_id % 7)
                     WHEN 3 THEN '/logs/a' || (doc_id % 3) || '.log'
                     WHEN 4 THEN '/logs/b.log.bak'
                     ELSE '/h' || (doc_id % 5) || '/private'
                   END AS path
            FROM documents
        ),
        rb AS (
            SELECT 'site' || i || '.org' AS host,
                   CASE WHEN i < 4 THEN
                     '# policy' || chr(10)
                     || 'User-agent: SparkBot' || chr(10)
                     || 'User-agent: helper' || chr(10)
                     || 'Disallow: /h' || i || '/private' || chr(10)
                     || 'Allow: /h' || i || '/private/ok' || chr(10)
                     || 'Disallow: /logs/*.log$' || chr(10) || chr(10)
                     || 'User-agent: *' || chr(10)
                     || 'Disallow: /' || chr(10)
                   ELSE 'User-agent: *' || chr(10)
                        || 'Disallow: /logs' || chr(10)
                   END AS txt
            FROM (SELECT unnest(range(0, 5)) AS i)
        ),
        lns AS (
            SELECT host, CAST(ln AS INT) AS ln,
                   trim(regexp_replace(ls[CAST(ln AS INT)],
                                       '#.*$', '')) AS line
            FROM (SELECT host, string_split(txt, chr(10)) AS ls
                  FROM rb),
                 LATERAL unnest(range(1, len(ls) + 1)) AS t(ln)
        ),
        fields AS (
            SELECT host, ln,
                   lower(regexp_extract(line,
                       '^([A-Za-z-]+)\\s*:', 1)) AS field,
                   trim(regexp_extract(line,
                       '^[A-Za-z-]+\\s*:\\s*(.*)$', 1)) AS value
            FROM lns
            WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
                  IN ('user-agent', 'allow', 'disallow')
        ),
        marked AS (
            SELECT host, ln, field, value,
                   (field = 'user-agent') AS is_ua,
                   COALESCE(lag(field = 'user-agent') OVER (
                       PARTITION BY host ORDER BY ln), false) AS prev_ua
            FROM fields
        ),
        grp AS (
            SELECT *, SUM(CASE WHEN is_ua AND NOT prev_ua
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY host ORDER BY ln) AS g
            FROM marked
        ),
        agents AS (
            SELECT host, g,
                   bool_or(lower(value) = 'sparkbot') AS has_agent,
                   bool_or(value = '*') AS has_star
            FROM grp WHERE is_ua GROUP BY host, g
        ),
        scoped AS (
            SELECT r.host, (r.field = 'allow') AS allow,
                   r.value AS rule, a.has_agent AS e
            FROM grp r JOIN agents a ON r.host = a.host AND r.g = a.g
            WHERE NOT r.is_ua AND r.value <> ''
                  AND (a.has_agent OR a.has_star)
        ),
        pick AS (
            SELECT host, MAX(CASE WHEN e THEN 1 ELSE 0 END) AS hx
            FROM scoped GROUP BY host
        ),
        rules AS (
            SELECT s.host, s.allow, s.rule, length(s.rule) AS rule_len,
                   '^' || replace(replace(replace(replace(replace(
                         replace(replace(replace(replace(replace(
                         replace(replace(replace(replace(
                         CASE WHEN s.rule LIKE '%$'
                              THEN substring(s.rule, 1,
                                             length(s.rule) - 1)
                              ELSE s.rule END,
                         '\\', '\\\\'), '.', '\\.'), '+', '\\+'),
                         '?', '\\?'), '(', '\\('), ')', '\\)'),
                         '[', '\\['), ']', '\\]'), '{', '\\{'),
                         '}', '\\}'), '|', '\\|'), '^', '\\^'),
                         '$', '\\$'),
                         '*', '.*')
                   || CASE WHEN s.rule LIKE '%$' THEN '$' ELSE '' END
                       AS rule_re
            FROM scoped s JOIN pick p ON s.host = p.host
            WHERE (s.e AND p.hx = 1) OR (NOT s.e AND p.hx = 0)
        ),
        hits AS (
            SELECT u2.host, u2.path,
                   arg_max(struct_pack(al := r.allow, ru := r.rule),
                           r.rule_len * 2
                           + CASE WHEN r.allow THEN 1 ELSE 0 END)
                       AS best
            FROM (SELECT DISTINCT host, path FROM u) u2
            JOIN rules r ON u2.host = r.host
            WHERE regexp_matches(u2.path, r.rule_re)
            GROUP BY u2.host, u2.path
        )
        SELECT u.doc_id, u.host, u.path,
               COALESCE(h.best.al, true) AS allowed,
               h.best.ru AS matched_rule
        FROM u LEFT JOIN hits h
            ON u.host = h.host AND u.path = h.path
        ORDER BY u.doc_id
    """

    # q171: the canonicalization replayed step-for-step — same regexes
    # (Java∩RE2 subset), same default-port CASE, same tracker prefix
    # filter, same bytewise param sort.
    sql["q171_url_normalize"] = """
        WITH d AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'HTTP'
                         ELSE 'https' END)
                   || '://WWW.Site' || (doc_id % 5) || '.ORG'
                   || (CASE doc_id % 4 WHEN 0 THEN ':80'
                       WHEN 1 THEN ':443' WHEN 2 THEN ':8080'
                       ELSE '' END)
                   || (CASE WHEN doc_id % 3 = 0 THEN ''
                       ELSE '/Cat' || (doc_id % 7) || '/item' END)
                   || '?utm_source=feed&b=' || (doc_id % 3) || '&a=1'
                   || (CASE WHEN doc_id % 2 = 0 THEN '&fbclid=XYZ'
                       ELSE '' END)
                   || '#sec' || (doc_id % 4) AS url
            FROM documents
        ),
        nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u
               FROM d),
        parts AS (
            SELECT doc_id, u,
                   lower(regexp_extract(u,
                       '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(u,
                       '^[^:/?]+://([^/?]+)', 1)) AS hostport,
                   regexp_extract(u,
                       '^[^:/?]+://[^/?]*(/[^?]*)?', 1) AS path,
                   regexp_extract(u, '\\?(.*)$', 1) AS query
            FROM nf
        ),
        norm AS (
            SELECT doc_id, scheme, path,
                   CASE WHEN scheme = 'http'
                             AND hostport LIKE '%:80'
                        THEN regexp_replace(hostport, ':80$', '')
                        WHEN scheme = 'https'
                             AND hostport LIKE '%:443'
                        THEN regexp_replace(hostport, ':443$', '')
                        ELSE hostport END AS host,
                   regexp_replace(hostport, ':[0-9]+$', '')
                       AS bare_host,
                   array_to_string(list_sort(list_filter(
                       string_split(query, '&'),
                       p -> p <> ''
                            AND NOT (
                                starts_with(split_part(p, '=', 1),
                                            'utm_')
                                OR split_part(p, '=', 1) IN
                                   ('fbclid', 'gclid', 'msclkid',
                                    'mc_eid')))),
                       '&') AS qnorm
            FROM parts
        )
        SELECT doc_id,
               scheme || '://' || host
               || (CASE WHEN path = '' THEN '/' ELSE path END)
               || (CASE WHEN qnorm = '' THEN ''
                   ELSE '?' || qnorm END) AS url_norm,
               bare_host AS host
        FROM norm ORDER BY doc_id
    """

    # q170: the WARC record facts regenerated from the template — the
    # md5 pins Content-Length framing (the body embeds CRLF CRLF);
    # strlen (BYTE length) on both sides, since Content-Length counts
    # bytes, not characters.
    sql["q170_warc_parse"] = """
        WITH d AS (
            SELECT doc_id,
                   'doc:' || text || chr(13) || chr(10) || chr(13)
                       || chr(10) || 'tail' AS body
            FROM documents
        ),
        r AS (
            SELECT doc_id, body, unnest(range(0, 3)) AS rec_idx FROM d
        )
        SELECT 'm_' || doc_id AS media_id,
               rec_idx::INT AS rec_idx,
               CASE rec_idx WHEN 0 THEN 'warcinfo'
                            WHEN 1 THEN 'request'
                            ELSE 'response' END AS warc_type,
               CASE WHEN rec_idx >= 1
                    THEN 'http://ex.org/doc/' || doc_id END AS uri,
               CASE WHEN rec_idx = 2 THEN 200 END::INT AS http_status,
               CASE WHEN rec_idx = 2 THEN 'text/html' END
                   AS content_type,
               (CASE WHEN rec_idx = 2 THEN strlen(body)
                     ELSE 0 END)::BIGINT AS body_len,
               CASE WHEN rec_idx = 2 THEN md5(body) END AS body_md5
        FROM r ORDER BY media_id, rec_idx
    """

    # q169: the whole HTML pipeline replayed verbatim — the patterns
    # live in the Java∩RE2 subset (no backrefs/lookaround), the
    # link-density test is exact integer math, and md5 of the final
    # text pins head-drop, block split, density filter, stitch order,
    # and entity decode all at once.
    sql["q169_html_extract"] = """
        WITH h AS (
            SELECT doc_id,
                   '<html><head><title>t</title><style>p{c:red}</style>'
                   || '<script>if(a<b){x(1)}</script></head><body>'
                   || '<nav><a href="/">Home</a> <a href="/a">About</a> '
                   || '<a href="/c">Contact</a></nav><h1>'
                   || source || '</h1><p>'
                   || replace(replace(replace(text, '&', '&amp;'),
                              '<', '&lt;'), '>', '&gt;')
                   || ' <a href="/ref">ref</a></p>'
                   || '<div><a href="/b">Buy now</a> '
                   || '<a href="/s">Subscribe today</a> ok</div>'
                   || '<p>See &amp; read &lt;more&gt;&nbsp;here</p>'
                   || '</body></html>' AS html
            FROM documents
        ),
        nh AS (
            SELECT doc_id,
                   regexp_replace(html,
                       '(?s)<head[^>]*>.*?</head>'
                       || '|(?s)<script[^>]*>.*?</script>'
                       || '|(?s)<style[^>]*>.*?</style>|(?s)<!--.*?-->',
                       ' ', 'g') AS body
            FROM h
        ),
        parts AS (
            SELECT doc_id,
                   regexp_split_to_array(body,
                       '</?(?:p|div|nav|h1|h2|h3|ul|ol|li|body|html'
                       || '|table|tr|td)[^>]*>') AS ps
            FROM nh
        ),
        blk AS (
            SELECT doc_id, CAST(i AS INT) AS pos,
                   ps[CAST(i AS INT)] AS frag
            FROM parts, LATERAL unnest(range(1, len(ps) + 1)) AS t(i)
        ),
        scored AS (
            SELECT doc_id, pos,
                   trim(regexp_replace(regexp_replace(
                       frag, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))
                       AS txt,
                   COALESCE(list_sum(list_transform(
                       regexp_extract_all(frag,
                           '(?s)<a[^>]*>(.*?)</a>', 1),
                       x -> length(trim(regexp_replace(regexp_replace(
                           x, '<[^>]*>', ' ', 'g'),
                           '\\s+', ' ', 'g'))))), 0) AS link_n
            FROM blk
        ),
        agg AS (
            SELECT doc_id,
                   COUNT(*) FILTER (WHERE length(txt) > 0) AS n_blocks,
                   COUNT(*) FILTER (WHERE length(txt) > 0
                                    AND 2 * link_n <= length(txt))
                       AS n_kept,
                   COALESCE(string_agg(txt, ' ' ORDER BY pos)
                       FILTER (WHERE length(txt) > 0
                               AND 2 * link_n <= length(txt)), '')
                       AS raw
            FROM scored GROUP BY doc_id
        ),
        fin AS (
            SELECT doc_id, n_blocks, n_kept,
                   trim(regexp_replace(
                       replace(replace(replace(replace(replace(raw,
                           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                           '&nbsp;', ' '), '&amp;', '&'),
                       '\\s+', ' ', 'g')) AS ftext
            FROM agg
        )
        SELECT doc_id, md5(ftext) AS text_hash,
               n_blocks::INT AS n_blocks, n_kept::INT AS n_kept,
               length(ftext)::INT AS n_chars
        FROM fin ORDER BY doc_id
    """

    # q168: the incremental-append equivalence proof — the oracle
    # builds the IVF index over the FULL table in one shot (q36's
    # relational replay with qv=5, nprobe=4, k=12); the Spark side
    # builds on base and APPENDS the delta, so any append-path bug
    # (assignment drift, lost rows, wrong cell) breaks the hash.
    sql["q168_ivf_append_probe"] = """
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 5),
        assign AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                                    e.embedding::DOUBLE[],
                                    s.centroid) DESC,
                                s.cell ASC) AS rk
            FROM embeddings e, seeds s
        ),
        cells AS (SELECT vec_id, v, cell FROM assign WHERE rk = 1),
        probe AS (
            SELECT s.cell FROM seeds s, q
            ORDER BY list_cosine_similarity(s.centroid, q.qv) DESC,
                     s.cell ASC
            LIMIT 4
        )
        SELECT c.vec_id,
               ROUND(list_cosine_similarity(c.v, q.qv), 6) AS score
        FROM cells c JOIN probe p ON c.cell = p.cell, q
        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id ASC
        LIMIT 12
    """

    # q167: both stereo channels replayed from their formulas —
    # channel-major window energies (e0-e3 left, e4-e7 right). FLAC
    # stereo decorrelation is lossless, so decode must return the
    # formula samples exactly per channel.
    _l_cols = ", ".join(
        f"CAST(SUM(CASE WHEN w = {j} THEN lv * lv ELSE 0 END) AS "
        f"DOUBLE) / (n // 4) AS e{j}" for j in range(4))
    _r_cols = ", ".join(
        f"CAST(SUM(CASE WHEN w = {j} THEN rv * rv ELSE 0 END) AS "
        f"DOUBLE) / (n // 4) AS e{j + 4}" for j in range(4))
    sql["q167_flac_stereo"] = f"""
        WITH d AS (
            SELECT doc_id, 64 + (doc_id % 4) * 32 AS n FROM documents
        ),
        s0 AS (
            SELECT doc_id, n, unnest(range(0, n)) AS i FROM d
        ),
        s AS (
            SELECT doc_id, n, i,
                   ((doc_id * 41 + i * 17) % 2048) - 1024 AS lv,
                   ((doc_id * 23 + i * 29) % 2048) - 1024 AS rv,
                   CAST(i // (n // 4) AS INT) AS w
            FROM s0
        )
        SELECT 'm_' || doc_id AS media_id,
               8000::INT AS sample_rate,
               2::INT AS n_channels,
               n::BIGINT AS n_samples,
               {_l_cols}, {_r_cols}
        FROM s GROUP BY doc_id, n ORDER BY media_id
    """

    # q165: q160's relational replay for the MP4 container — stepped
    # sampled-frame grid (stride 2 at fps 5), exact BIGINT pixel sums.
    # The Spark side must get identical numbers out of a real box-tree
    # walk + stsc/stco/stsz sample resolution.
    sql["q165_mp4_frame_sample"] = """
        WITH d AS (
            SELECT doc_id, 5 + doc_id % 5 AS nf,
                   6 + (doc_id % 3) * 4 AS w,
                   4 + (doc_id % 2) * 2 AS h
            FROM documents
        ),
        fr AS (
            SELECT doc_id, nf, w, h, unnest(range(0, nf, 2)) AS f FROM d
        ),
        cells AS (
            SELECT doc_id, nf, w, h, f, r, c, unnest(range(0, 3)) AS ch
            FROM (SELECT doc_id, nf, w, h, f, r, unnest(range(0, w)) AS c
                  FROM (SELECT doc_id, nf, w, h, f,
                               unnest(range(0, h)) AS r FROM fr))
        ),
        px AS (
            SELECT doc_id, nf, w, h, f,
                   (doc_id * 29 + f * 19 + r * 11 + c * 7 + ch * 3) % 256
                       AS v
            FROM cells
        )
        SELECT 'm_' || doc_id AS media_id, nf::INT AS n_frames,
               5::INT AS fps, w::INT AS width, h::INT AS height,
               f::INT AS frame_idx, (f * 200)::BIGINT AS ts_ms,
               SUM(v)::BIGINT AS psum, SUM(v * v)::BIGINT AS psqsum
        FROM px GROUP BY doc_id, nf, w, h, f
        ORDER BY media_id, frame_idx
    """

    # q156: the PNG pixel formula replayed relationally — per-channel
    # conditional sums over the (row, col, channel) grid; exact BIGINT
    # integer arithmetic on both sides, so any byte-path decode bug
    # (filter, inflate, chunk walk) breaks the hash.
    sql["q156_png_pixels"] = """
        WITH d AS (
            SELECT doc_id, 8 + (doc_id % 3) * 4 AS w,
                   6 + (doc_id % 4) * 2 AS h
            FROM documents
        ),
        rows_t AS (
            SELECT doc_id, w, h, unnest(range(0, h)) AS r FROM d
        ),
        cells AS (
            SELECT doc_id, w, h, r, unnest(range(0, w)) AS c FROM rows_t
        ),
        px AS (
            SELECT doc_id, w, h, ch,
                   (doc_id * 31 + r * 17 + c * 7 + ch * 5) % 256 AS v
            FROM (SELECT doc_id, w, h, r, c,
                         unnest(range(0, 3)) AS ch
                  FROM cells)
        )
        SELECT 'm_' || doc_id AS media_id,
               w::INT AS width, h::INT AS height, 3::INT AS channels,
               SUM(CASE WHEN ch = 0 THEN v END)::BIGINT AS s0,
               SUM(CASE WHEN ch = 1 THEN v END)::BIGINT AS s1,
               SUM(CASE WHEN ch = 2 THEN v END)::BIGINT AS s2,
               SUM(CASE WHEN ch = 0 THEN v * v END)::BIGINT AS q0,
               SUM(CASE WHEN ch = 1 THEN v * v END)::BIGINT AS q1,
               SUM(CASE WHEN ch = 2 THEN v * v END)::BIGINT AS q2
        FROM px GROUP BY doc_id, w, h ORDER BY media_id
    """

    # q158: q36's first-16-seed cell assignment + probe composed with
    # q152's int8 quantization — candidate ranking restricted to the
    # probed cells; exact BIGINT dot/norms, micro-quantized re-rank.
    sql["q158_ivf_int8_ann"] = """
        WITH seeds AS (
            SELECT vec_id AS cell, embedding::DOUBLE[] AS centroid
            FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        qf AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 3),
        assign AS (
            SELECT e.vec_id, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                                    e.embedding::DOUBLE[],
                                    s.centroid) DESC,
                                s.cell ASC) AS rk
            FROM embeddings e, seeds s
        ),
        cells AS (SELECT vec_id, cell FROM assign WHERE rk = 1),
        probe AS (
            SELECT s.cell FROM seeds s, qf
            ORDER BY list_cosine_similarity(s.centroid, qf.qv) DESC,
                     s.cell ASC
            LIMIT 8
        ),
        q AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) / 127.0 AS scale
            FROM embeddings
        ),
        qq AS (
            SELECT vec_id, v, scale,
                   CASE WHEN scale * 127.0 < 1e-10
                        THEN list_transform(v, x -> 0)
                        ELSE list_transform(v, x -> CAST(round(x / scale)
                                                         AS INT)) END
                       AS qvec
            FROM q
        ),
        qv3 AS (SELECT qvec AS qq3, v AS v3 FROM qq WHERE vec_id = 3),
        nq AS (SELECT CAST(list_sum(list_transform(qq3,
                      x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nq
               FROM qv3),
        scored AS (
            SELECT c.vec_id,
                   CAST(list_sum(list_transform(range(1, len(c.qvec) + 1),
                        i_ -> CAST(c.qvec[i_] AS BIGINT)
                              * CAST(q3.qq3[i_] AS BIGINT)))
                        AS BIGINT) AS d,
                   CAST(list_sum(list_transform(c.qvec,
                        x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nv
            FROM qq c
            JOIN cells cl USING (vec_id)
            JOIN probe p ON cl.cell = p.cell, qv3 q3
        ),
        cand AS (
            SELECT vec_id,
                   CASE WHEN nv = 0 OR (SELECT nq FROM nq) = 0 THEN 0.0
                        ELSE CAST(d AS DOUBLE)
                             / (sqrt(CAST(nv AS DOUBLE))
                                * sqrt(CAST((SELECT nq FROM nq)
                                            AS DOUBLE))) END AS ascore
            FROM scored
            ORDER BY ascore DESC, vec_id ASC LIMIT 50
        ),
        rr AS (
            SELECT c.vec_id,
                   CAST(FLOOR(list_cosine_similarity(
                        e.embedding::DOUBLE[], (SELECT v3 FROM qv3))
                        * 1000000.0 + 0.5) AS BIGINT) AS sc
            FROM cand c JOIN embeddings e USING (vec_id)
            ORDER BY sc DESC, c.vec_id ASC LIMIT 10
        )
        SELECT vec_id, CAST(sc AS DOUBLE) / 1000000.0 AS score
        FROM rr ORDER BY score DESC, vec_id ASC
    """

    # q157: the BMP direct-pixel formula and the GIF palette+index
    # composition replayed relationally — same exact-BIGINT shape as
    # q156, two media rows per document.
    sql["q157_bmp_gif_pixels"] = """
        WITH d AS (SELECT doc_id FROM documents),
        bmp_px AS (
            SELECT doc_id, 4 + (doc_id % 5) * 2 AS w,
                   3 + (doc_id % 3) * 2 AS h, ch,
                   (doc_id * 13 + r * 11 + c * 3 + ch * 7) % 256 AS v
            FROM (
                SELECT doc_id, w, h, r, c, unnest(range(0, 3)) AS ch
                FROM (
                    SELECT doc_id, w, h, r, unnest(range(0, w)) AS c
                    FROM (
                        SELECT doc_id, w, h, unnest(range(0, h)) AS r
                        FROM (SELECT doc_id,
                                     4 + (doc_id % 5) * 2 AS w,
                                     3 + (doc_id % 3) * 2 AS h
                              FROM d))))
        ),
        gif_px AS (
            SELECT doc_id, 6 + (doc_id % 4) * 2 AS w,
                   4 + (doc_id % 2) * 3 AS h, ch,
                   (doc_id * 17 + ((doc_id + r * 5 + c) % 8) * 29
                    + ch * 5) % 256 AS v
            FROM (
                SELECT doc_id, w, h, r, c, unnest(range(0, 3)) AS ch
                FROM (
                    SELECT doc_id, w, h, r, unnest(range(0, w)) AS c
                    FROM (
                        SELECT doc_id, w, h, unnest(range(0, h)) AS r
                        FROM (SELECT doc_id,
                                     6 + (doc_id % 4) * 2 AS w,
                                     4 + (doc_id % 2) * 3 AS h
                              FROM d))))
        ),
        both_px AS (
            SELECT 'bmp_' || doc_id AS media_id, w, h, ch, v FROM bmp_px
            UNION ALL
            SELECT 'gif_' || doc_id AS media_id, w, h, ch, v FROM gif_px
        )
        SELECT media_id, w::INT AS width, h::INT AS height,
               3::INT AS channels,
               SUM(CASE WHEN ch = 0 THEN v END)::BIGINT AS s0,
               SUM(CASE WHEN ch = 1 THEN v END)::BIGINT AS s1,
               SUM(CASE WHEN ch = 2 THEN v END)::BIGINT AS s2,
               SUM(CASE WHEN ch = 0 THEN v * v END)::BIGINT AS q0,
               SUM(CASE WHEN ch = 1 THEN v * v END)::BIGINT AS q1,
               SUM(CASE WHEN ch = 2 THEN v * v END)::BIGINT AS q2
        FROM both_px GROUP BY media_id, w, h ORDER BY media_id
    """

    # q115: both deterministic fake decoders are md5-digest bytes —
    # image = 4×4 column means, audio = row means — reproduced from
    # the hex digest via the strpos byte extraction; exact in
    # float32, so the /4 division compares byte-for-byte.
    sql["q115_media_features"] = """
        WITH bytes_t AS (
            SELECT 'm_' || doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image'
                        ELSE 'audio' END AS kind,
                   list_transform(range(0, 16), i ->
                       (strpos('0123456789abcdef',
                               substr(md5(text), 2 * i::INT + 1, 1)) - 1)
                       * 16
                       + (strpos('0123456789abcdef',
                                 substr(md5(text), 2 * i::INT + 2, 1))
                          - 1)) AS bs,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        )
        SELECT media_id, kind,
               CASE WHEN kind = 'image'
                    THEN CAST(bs[1] + bs[5] + bs[9]  + bs[13] AS DOUBLE)
                    ELSE CAST(bs[1] + bs[2] + bs[3]  + bs[4]  AS DOUBLE)
               END / 4 AS f0,
               CASE WHEN kind = 'image'
                    THEN CAST(bs[2] + bs[6] + bs[10] + bs[14] AS DOUBLE)
                    ELSE CAST(bs[5] + bs[6] + bs[7]  + bs[8]  AS DOUBLE)
               END / 4 AS f1,
               CASE WHEN kind = 'image'
                    THEN CAST(bs[3] + bs[7] + bs[11] + bs[15] AS DOUBLE)
                    ELSE CAST(bs[9] + bs[10] + bs[11] + bs[12] AS DOUBLE)
               END / 4 AS f2,
               CASE WHEN kind = 'image'
                    THEN CAST(bs[4] + bs[8] + bs[12] + bs[16] AS DOUBLE)
                    ELSE CAST(bs[13] + bs[14] + bs[15] + bs[16] AS DOUBLE)
               END / 4 AS f3,
               CAST(n_bytes AS BIGINT) AS n_bytes
        FROM bytes_t ORDER BY media_id
    """

    # q116: the oracle is the ORIGINAL table — matching it proves the
    # JSON export/import round trip lossless.
    sql["q116_export_roundtrip"] = """
        SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        FROM documents ORDER BY doc_id
    """

    # q117: session_window semantics as gaps-and-islands — a NEW
    # session when the gap is >= 30 min (Spark's window end is
    # exclusive: last_event + gap), end = last event + gap.
    sql["q117_session_windows"] = """
        WITH obs AS (
            SELECT user_id, epoch_us(ts) AS us
            FROM events WHERE user_id < 50
        ),
        flags AS (
            SELECT user_id, us,
                   CASE WHEN LAG(us) OVER w IS NULL
                             OR us - LAG(us) OVER w >= 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ),
        sess AS (
            SELECT user_id, us,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        )
        SELECT user_id, MIN(us) AS start_us,
               MAX(us) + 1800000000 AS end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, start_us
    """

    # q118: the same deterministic CDC workload replayed relationally —
    # commit 2's intra-commit order is object_id STRING order (the
    # log_changes_df contract), cut 10 changes in.
    sql["q118_versioned_state"] = """
        WITH keys AS (
            SELECT c_custkey AS k FROM customer WHERE c_custkey <= 50
        ),
        b2 AS (
            SELECT k, CASE WHEN k % 7 = 0 THEN 'delete'
                      ELSE 'update' END AS ctype
            FROM keys WHERE k % 7 = 0 OR k % 3 = 0
        ),
        b2rk AS (
            SELECT k, ctype,
                   ROW_NUMBER() OVER (ORDER BY CAST(k AS VARCHAR)) AS rk
            FROM b2
        ),
        applied2 AS (SELECT k, ctype FROM b2rk WHERE rk <= 10)
        SELECT k AS custkey,
               CASE WHEN k IN (SELECT k FROM applied2
                               WHERE ctype = 'update')
                    THEN '{"bal": ' || CAST(k * 100 AS VARCHAR) || '}'
                    WHEN k % 2 = 0
                    THEN '{"bal": ' || CAST(k * 10 AS VARCHAR) || '}'
                    ELSE '{"bal": 0}' END AS data
        FROM keys
        WHERE k NOT IN (SELECT k FROM applied2 WHERE ctype = 'delete')
        ORDER BY custkey
    """

    # q119: the deterministic edit recomputed relationally — the
    # overlayed restore must equal it byte-for-byte.
    sql["q119_backup_restore"] = """
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 2 = 0
                    THEN 'RENAMED_' || CAST(n_nationkey AS VARCHAR)
                    ELSE n_name END AS n_name,
               n_regionkey
        FROM nation ORDER BY n_nationkey
    """

    # q120: intersection of two lossless round trips = the original.
    sql["q120_format_roundtrip"] = """
        SELECT doc_id, lang, source, n_chars
        FROM documents ORDER BY doc_id
    """

    # q123: the streaming tumbling-window count equals the batch
    # tumbling aggregate once AvailableNow has drained the source.
    sql["q123_stream_tumbling"] = """
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
               event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type
    """

    # q124: the streaming register state folds to the SAME portable
    # sketch the generated batch oracle computes (q77 machinery).
    _hll124 = hll_oracle_sql("events", "user_id",
                             group_cols=["event_type"], p=8)
    sql["q124_stream_hll"] = f"""
        WITH est AS ({_hll124}),
        ex AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
            FROM events GROUP BY event_type
        )
        SELECT est.event_type, est.hll_estimate, ex.exact
        FROM est JOIN ex USING (event_type)
        ORDER BY est.event_type
    """

    # q125: the drained stream-stream join equals the batch range join.
    sql["q125_stream_interval_join"] = """
        SELECT a.user_id,
               epoch_us(a.ts) AS click_us, epoch_us(b.ts) AS view_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'view'
         AND abs(epoch_us(a.ts) - epoch_us(b.ts))
             <= 3600::BIGINT * 1000000
        ORDER BY a.user_id, click_us, view_us
    """

    # q236: the streaming left-outer result is batch-equivalent once
    # the sentinel flushes the watermark past end-of-data, so the
    # oracle is the batch left range join (null error_us sorts where
    # the driver's canon puts NULL).
    sql["q236_stream_outer_join"] = """
        SELECT a.user_id,
               epoch_us(a.ts) AS click_us, epoch_us(b.ts) AS error_us
        FROM events a LEFT JOIN events b
          ON a.user_id = b.user_id
         AND b.event_type = 'error'
         AND abs(epoch_us(a.ts) - epoch_us(b.ts))
             <= 3600::BIGINT * 1000000
        WHERE a.event_type = 'click'
        ORDER BY a.user_id, click_us, error_us
    """

    # q126/q127: the Q3/Q18 shapes stated directly.
    sql["q126_shipping_priority"] = """
        SELECT l_orderkey,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
               o_orderpriority,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 2)
                   AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND l_shipdate  > TIMESTAMP '1996-06-30'
        GROUP BY l_orderkey, o_date, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """

    sql["q127_large_orders"] = """
        WITH big AS (
            SELECT l_orderkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
        )
        SELECT c_name, o_orderkey,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
               o_totalprice AS total_price,
               CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY sum_qty DESC, o_orderkey ASC LIMIT 50
    """

    # q122: the right-wins merge stated relationally, one SELECT per
    # metadata key.
    sql["q122_metadata_merge"] = """
        WITH c AS (
            SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
            FROM customer WHERE c_custkey <= 100
        )
        SELECT k AS custkey, 'band' AS key,
               CASE WHEN bal >= 0 THEN 'pos' ELSE 'neg' END AS value
        FROM c
        UNION ALL
        SELECT k, 'segment',
               CASE WHEN k % 2 = 0 THEN 'OVERRIDE' ELSE seg END
        FROM c
        UNION ALL
        SELECT k, 'reviewed', 'yes' FROM c WHERE k % 3 = 0
        ORDER BY custkey, key
    """

    # q121: the three regex-parsed NL questions as plain aggregates;
    # intent/confidence are the parser's deterministic outputs.
    sql["q121_nlq_pipeline"] = """
        SELECT 'how many documents from source src0' AS question,
               'aggregation' AS intent, 0.8 AS confidence,
               (SELECT COUNT(*) FROM documents
                WHERE source = 'src0') AS n
        UNION ALL
        SELECT 'count documents containing data',
               'aggregation', 0.8,
               (SELECT COUNT(*) FROM documents
                WHERE text LIKE '%data%')
        UNION ALL
        SELECT 'how many documents from source src2',
               'aggregation', 0.8,
               (SELECT COUNT(*) FROM documents
                WHERE source = 'src2')
        ORDER BY question
    """

    # q128: filter-registry matrix — one SELECT per case over a shared
    # base CTE mirroring the derived columns.
    sql["q128_filter_matrix"] = """
        WITH base AS (
            SELECT doc_id, text, source, n_chars,
                   CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang2,
                   CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity,
                   CASE
                     WHEN doc_id % 3 = 0 THEN strftime(DATE '1995-01-01'
                          + INTERVAL ((doc_id % 400)::INT) DAY, '%Y-%m-%d')
                     WHEN doc_id % 3 = 1 THEN strftime(DATE '1995-01-01'
                          + INTERVAL ((doc_id % 400)::INT) DAY, '%m/%d/%Y')
                     ELSE strftime(DATE '1995-01-01'
                          + INTERVAL ((doc_id % 400)::INT) DAY, '%d-%m-%Y')
                   END AS ds,
                   lang
            FROM documents
        ),
        parsed AS (
            SELECT *, COALESCE(
                try_strptime(ds, '%Y-%m-%d %H:%M:%S'),
                try_strptime(ds, '%Y-%m-%dT%H:%M:%S'),
                try_strptime(ds, '%Y-%m-%d'),
                try_strptime(ds, '%m/%d/%Y'),
                try_strptime(ds, '%d-%m-%Y')) AS pts
            FROM base
        )
        SELECT "case", n::BIGINT AS n, id_sum::BIGINT AS id_sum FROM (
            SELECT 'c01_eq_ci' AS "case", COUNT(*) AS n,
                   COALESCE(SUM(doc_id), 0) AS id_sum
            FROM parsed WHERE lower(lang2) = lower('EN')
            UNION ALL
            SELECT 'c02_ne_exclude', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 <> 'en'
            UNION ALL
            SELECT 'c03_ne_include', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 <> 'en' OR lang2 IS NULL
            UNION ALL
            SELECT 'c04_ne_as_value', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 IS DISTINCT FROM 'en'
            UNION ALL
            SELECT 'c05_map_dot_path', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE parity = 'even'
            UNION ALL
            SELECT 'c06_datetime_coerce', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE pts >= TIMESTAMP '1995-03-01'
                          AND pts <= TIMESTAMP '1995-09-30'
            UNION ALL
            SELECT 'c07_regex_valid', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE regexp_matches(text, '[aeiou]{3}')
            UNION ALL
            SELECT 'c08_regex_invalid', 0, 0
            UNION ALL
            SELECT 'c09_regex_oversized', 0, 0
            UNION ALL
            SELECT 'c10_between', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE n_chars BETWEEN 100 AND 300
            UNION ALL
            SELECT 'c11_in', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE source IN ('src1', 'src3', 'src5')
            UNION ALL
            SELECT 'c12_not_in', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE source NOT IN ('src0', 'src2')
            UNION ALL
            SELECT 'c13_contains_ci', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE contains(lower(text), lower('THE'))
            UNION ALL
            SELECT 'c14_starts_with', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE starts_with(source, 'src1')
            UNION ALL
            SELECT 'c15_ends_with', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE ends_with(source, '7')
            UNION ALL
            SELECT 'c16_not_exists', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 IS NULL
            UNION ALL
            SELECT 'c17_not_empty', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 IS NOT NULL AND len(lang2) > 0
            UNION ALL
            SELECT 'c18_null_dialect', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 IS NULL
            UNION ALL
            SELECT 'c19_array_contains', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE list_contains([lang, source], 'en')
            UNION ALL
            SELECT 'c20_array_length', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE len([lang, source]) = 2
            UNION ALL
            SELECT 'c21_conjunctive', COUNT(*), COALESCE(SUM(doc_id), 0)
            FROM parsed WHERE lang2 = 'en' AND n_chars > 200
                          AND ends_with(source, '2')
        ) ORDER BY "case"
    """

    # q129: shared-tag and same-domain discovery joins stated directly;
    # UNION (not ALL) in tags = array_distinct.
    sql["q129_auto_relationships"] = """
        WITH base AS (SELECT doc_id, source FROM documents WHERE doc_id < 300),
        tags AS (
            SELECT doc_id, 'k' || (doc_id % 199) AS k FROM base
            UNION
            SELECT doc_id, 'k' || ((doc_id * 7) % 199) FROM base
            UNION
            SELECT doc_id, 'k' || ((doc_id * 13) % 199) FROM base
        ),
        rel AS (
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM tags a JOIN tags b USING (k)
            WHERE a.doc_id < b.doc_id
        )
        SELECT a, b, 'RELATED' AS relation_type,
               CAST(0.5 AS DOUBLE) AS confidence
        FROM rel
        UNION ALL
        SELECT a.doc_id, b.doc_id, 'SAME_DOMAIN', CAST(0.8 AS DOUBLE)
        FROM base a JOIN base b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE a.doc_id < 120 AND b.doc_id < 120
        ORDER BY relation_type, a, b
    """

    # q130: the CASE-rewrite merge fold stated relationally.
    sql["q130_merge_nodes"] = f"""
        WITH {EDGES_CTE},
        ed AS (
            SELECT from_id, to_id, relation_type FROM edges
            WHERE relation_type IN ('in_region', 'from_nation')
            UNION ALL SELECT 'n_7', 'n_3', 'related'
        ),
        rw AS (
            SELECT DISTINCT
                CASE WHEN from_id = 'n_7' THEN 'n_3' ELSE from_id END AS from_id,
                CASE WHEN to_id = 'n_7' THEN 'n_3' ELSE to_id END AS to_id,
                relation_type
            FROM ed
        )
        SELECT from_id, to_id, relation_type FROM rw
        WHERE from_id <> to_id AND (from_id = 'n_3' OR to_id = 'n_3')
        ORDER BY from_id, to_id, relation_type
    """

    # q131: the score ladders stated directly; ln-derived popularity is
    # micro-quantized BEFORE the combination (q86 discipline), and the
    # weighted sum mirrors combined_score's fold order with the exact
    # normalized-weight doubles (0.3/0.5 and 0.1/0.5 are exact in
    # binary: 0.6 and 0.2).
    sql["q131_ranking_components"] = """
        WITH d AS (
            SELECT doc_id,
                   (doc_id % 500)::DOUBLE AS age_days,
                   ((doc_id * 3) % 150) AS access_count,
                   (doc_id % 11)::DOUBLE / 10.0 AS richness,
                   ((doc_id * 3) % 11)::DOUBLE / 10.0 AS truthfulness,
                   ((doc_id * 7) % 11)::DOUBLE / 10.0 AS stability
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   FLOOR((CASE WHEN age_days <= 0 THEN 1.0
                               WHEN age_days <= 7 THEN 0.9
                               WHEN age_days <= 30 THEN 0.7
                               WHEN age_days <= 90 THEN 0.5
                               WHEN age_days <= 365 THEN 0.3
                               ELSE 0.1 END) * 1e6 + 0.5)::BIGINT
                       AS freshness_micro,
                   FLOOR(LEAST(ln(access_count + 1.0) / ln(100.0), 1.0)
                         * 1e6 + 0.5)::BIGINT AS popularity_micro,
                   FLOOR((0.4 * richness + 0.4 * truthfulness
                          + 0.2 * stability) * 1e6 + 0.5)::BIGINT
                       AS quality_micro
            FROM d
        )
        SELECT doc_id, freshness_micro, popularity_micro, quality_micro,
               FLOOR((((0.0 + (quality_micro / 1e6) * 0.6)
                       + (freshness_micro / 1e6) * 0.2)
                      + (popularity_micro / 1e6) * 0.2) * 1e6 + 0.5)::BIGINT
                   AS combined_micro
        FROM m
        ORDER BY combined_micro DESC, doc_id ASC
    """

    # q132: the row_number admission plan stated directly.
    sql["q132_event_throttle"] = """
        WITH rn AS (
            SELECT event_id,
                   row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
            FROM events
        )
        SELECT (rn // 100)::BIGINT AS slot,
               COUNT(*)::BIGINT AS n,
               MIN(event_id) AS min_id,
               MAX(event_id) AS max_id,
               SUM(event_id)::BIGINT AS id_sum
        FROM rn GROUP BY 1 ORDER BY 1
    """

    # q133: having is a PRE-filter on rows, so it is a plain WHERE here.
    sql["q133_having_prefilter"] = """
        SELECT o_orderpriority || '|' || o_orderstatus AS group_key,
               COUNT(*)::BIGINT AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS total
        FROM orders WHERE o_totalprice > 150000.0
        GROUP BY o_orderpriority, o_orderstatus
        ORDER BY group_key
    """

    # q135: publish→replay→subscriber filters == plain WHERE on the
    # original table (the round trip is the thing being proven).
    sql["q135_pubsub_replay"] = """
        SELECT event_id, event_type, value
        FROM events
        WHERE ts >= (SELECT ts FROM events
                     WHERE event_id <= (SELECT MAX(event_id) // 2 FROM events)
                     ORDER BY event_id DESC LIMIT 1)
          AND event_type IN ('click', 'view')
          AND value > 0.5
        ORDER BY event_id
    """

    # q136: the queue's terminal semantics stated directly — click
    # completes on attempt 1, view retries to exhaustion
    # (max_retries=2 → attempts=3), everything else is unroutable.
    sql["q136_task_queue"] = """
        WITH t AS (
            SELECT event_id, event_type FROM events WHERE event_id < 24
        )
        SELECT event_type AS task_type,
               CASE WHEN event_type = 'click' THEN 'completed'
                    ELSE 'failed' END AS status,
               COUNT(*)::BIGINT AS n,
               (CASE WHEN event_type = 'view' THEN 3 ELSE 1 END)::BIGINT
                   AS min_attempts,
               (CASE WHEN event_type = 'view' THEN 3 ELSE 1 END)::BIGINT
                   AS max_attempts,
               SUM(event_id)::BIGINT AS id_sum
        FROM t GROUP BY event_type
        ORDER BY task_type, status
    """

    # q137: the md5 hashed-projection rebuilt in SQL (little-endian
    # first-4-bytes int, idx = h % 8, sign = bit 16), summed per dim.
    _H32 = """
      (  (strpos('0123456789abcdef', substr(md5(t),1,1))-1)*16
       + (strpos('0123456789abcdef', substr(md5(t),2,1))-1)
       + ((strpos('0123456789abcdef', substr(md5(t),3,1))-1)*16
        + (strpos('0123456789abcdef', substr(md5(t),4,1))-1)) * 256
       + ((strpos('0123456789abcdef', substr(md5(t),5,1))-1)*16
        + (strpos('0123456789abcdef', substr(md5(t),6,1))-1)) * 65536
       + ((strpos('0123456789abcdef', substr(md5(t),7,1))-1)*16
        + (strpos('0123456789abcdef', substr(md5(t),8,1))-1)) * 16777216
      )::BIGINT
    """
    sql["q137_hash_embeddings"] = f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
            FROM documents
        ),
        s AS (
            SELECT doc_id, ({_H32}) % 8 AS idx,
                   CASE WHEN (({_H32}) // 65536) % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM tok
        ),
        agg AS (
            SELECT doc_id,
                   {', '.join(
                       f"COALESCE(SUM(sgn) FILTER (idx = {i}), 0)::BIGINT AS e{i}"
                       for i in range(8))}
            FROM s GROUP BY doc_id
        )
        SELECT d.doc_id,
               {', '.join(f"COALESCE(e{i}, 0)::BIGINT AS e{i}"
                          for i in range(8))}
        FROM documents d LEFT JOIN agg USING (doc_id)
        ORDER BY d.doc_id
    """

    # q138: all 10 BPE rounds unrolled as chained CTEs; each round
    # recomputes pair counts, takes the deterministic argmax, and
    # applies the merge with the SAME delimiter-doubling replace the
    # operator uses (doubled separators survive non-overlapping
    # replace(), reproducing the greedy left-to-right fold).
    _bpe = ["""
        wt AS (SELECT unnest(toks) AS word FROM toks_t),
        wf AS (SELECT word, COUNT(*) AS freq FROM wt
               GROUP BY 1 ORDER BY freq DESC, word ASC LIMIT 400),
        w0 AS MATERIALIZED (
               SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w,
                      freq
               FROM wf)"""]
    for k in range(1, 11):
        _bpe.append(f"""
        s{k} AS (SELECT string_split(w, ' ') AS s, freq FROM w{k - 1}),
        px{k} AS (SELECT unnest(list_transform(range(1, len(s)),
                         i -> {{'l': s[i], 'r': s[i + 1]}})) AS p, freq
                  FROM s{k}),
        pc{k} AS (SELECT p.l AS l, p.r AS r, SUM(freq)::BIGINT AS c
                  FROM px{k} GROUP BY 1, 2),
        best{k} AS MATERIALIZED (
                    SELECT l, r, c FROM pc{k}
                    ORDER BY c DESC, l ASC, r ASC LIMIT 1),
        w{k} AS MATERIALIZED (
                 SELECT trim(regexp_replace(
                     replace('  ' || replace(w, ' ', '  ') || '  ',
                             (SELECT ' ' || l || '  ' || r || ' '
                              FROM best{k}),
                             (SELECT ' ' || l || r || ' ' FROM best{k})),
                     ' +', ' ', 'g')) AS w, freq
                 FROM w{k - 1})""")
    _bpe_rounds = "\n        UNION ALL\n".join(
        f"        SELECT {k} AS merge_round, l AS left_sym, r AS right_sym, "
        f"c AS pair_count FROM best{k}" for k in range(1, 11))
    sql["q138_bpe_merges"] = (
        "WITH " + TOKS_CTE + "," + ",".join(_bpe)
        + "\n" + _bpe_rounds + "\n        ORDER BY merge_round")

    # q147: the ENCODER over the same derived rules — the trainer's
    # best{k} CTEs feed the same delimiter-doubling replace chain,
    # applied to the full distinct-word dictionary, then the doc-level
    # piece sums come from a dictionary join back into the token
    # stream (empty docs kept at 0 via the left join).
    _enc = ["""
        dictw AS (SELECT DISTINCT unnest(toks) AS word FROM toks_t),
        e0 AS MATERIALIZED (
               SELECT word,
                      trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w
               FROM dictw)"""]
    for k in range(1, 11):
        _enc.append(f"""
        e{k} AS MATERIALIZED (
                 SELECT word, trim(regexp_replace(
                     replace('  ' || replace(w, ' ', '  ') || '  ',
                             (SELECT ' ' || l || '  ' || r || ' '
                              FROM best{k}),
                             (SELECT ' ' || l || r || ' ' FROM best{k})),
                     ' +', ' ', 'g')) AS w
                 FROM e{k - 1})""")
    sql["q147_bpe_encode"] = (
        "WITH " + TOKS_CTE + "," + ",".join(_bpe) + "," + ",".join(_enc)
        + """,
        np AS (SELECT word, len(string_split(w, ' '))::BIGINT AS np
               FROM e10),
        dt AS (SELECT doc_id, unnest(toks) AS word FROM toks_t),
        agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_words,
                       SUM(np)::BIGINT AS n_pieces
                FROM dt JOIN np USING (word) GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(agg.n_words, 0)::BIGINT AS n_words,
               COALESCE(agg.n_pieces, 0)::BIGINT AS n_pieces
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        ORDER BY d.doc_id LIMIT 200""")

    # q139: the nation→region closure stated directly (the induced
    # subgraph drops every cross-boundary from_nation edge).
    sql["q139_subgraph_export"] = """
        SELECT 'node' AS kind, 'n_' || n_nationkey AS a, '' AS b, '' AS rel
        FROM nation
        UNION ALL
        SELECT 'node', 'r_' || r_regionkey, '', '' FROM region
        UNION ALL
        SELECT 'edge', 'n_' || n_nationkey, 'r_' || n_regionkey, 'in_region'
        FROM nation
        ORDER BY kind, a, b, rel
    """

    # q140: a complete migration verifies TRUE by construction; the
    # counts pin that the whole table moved.
    sql["q140_migrate_verify"] = """
        SELECT 'json' AS fmt, 'nation' AS table_name, TRUE AS verified,
               (SELECT COUNT(*) FROM nation)::BIGINT AS n
        UNION ALL
        SELECT 'parquet', 'supplier', TRUE,
               (SELECT COUNT(*) FROM supplier)::BIGINT
        ORDER BY fmt
    """

    # q141: each mode's insight counts, computed from the SAME operator
    # SQL the individual oracles use (q27 patterns, structural degree
    # rule, q32 contradictions over the shared-tag edge set).
    sql["q141_synthesis_modes"] = f"""
        WITH {TOKS_CTE},
        exq AS (
            SELECT doc_id, unnest(list_distinct(list_filter(toks,
                x -> len(x) >= 3 AND NOT list_contains({_STOPWORDS_SQL}, x))))
                AS term
            FROM toks_t
        ),
        pat AS MATERIALIZED (
            SELECT COUNT(*)::BIGINT AS n FROM (
                SELECT a.term AS t1, b.term AS t2
                FROM exq a JOIN exq b
                  ON a.doc_id = b.doc_id AND a.term < b.term
                GROUP BY 1, 2 HAVING COUNT(*) >= 3)),
        tg AS (
            SELECT doc_id, 'k' || ((doc_id * 1) % 997) AS k FROM documents
            UNION
            SELECT doc_id, 'k' || ((doc_id * 7) % 997) FROM documents
            UNION
            SELECT doc_id, 'k' || ((doc_id * 13) % 997) FROM documents
        ),
        ed AS (
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM tg a JOIN tg b USING (k) WHERE a.doc_id < b.doc_id
        ),
        deg AS (
            SELECT nid, COUNT(*) AS degree FROM (
                SELECT a AS nid FROM ed UNION ALL SELECT b FROM ed)
            GROUP BY 1
        ),
        anom AS MATERIALIZED (
            SELECT COUNT(*)::BIGINT AS n
            FROM documents d LEFT JOIN deg ON deg.nid = d.doc_id
            WHERE COALESCE(deg.degree, 0) = 0 OR COALESCE(deg.degree, 0) >= 10),
        prep AS (
            SELECT doc_id,
                   list_filter(list_distinct(toks),
                       x -> NOT list_contains({_STOPWORDS_SQL}, x)
                            AND NOT list_contains({_NEG_SQL}, x)) AS w,
                   len(list_intersect(list_distinct(toks), {_NEG_SQL})) > 0
                       AS has_neg
            FROM toks_t
        ),
        exc AS (SELECT doc_id, unnest(w) AS k FROM prep),
        szc AS (SELECT doc_id, len(w) AS sz, has_neg FROM prep),
        cc AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM exc a JOIN exc b ON a.k = b.k AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        con AS MATERIALIZED (
            SELECT COUNT(*)::BIGINT AS n
            FROM cc JOIN szc sa ON sa.doc_id = cc.a
                    JOIN szc sb ON sb.doc_id = cc.b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.7
              AND sa.has_neg <> sb.has_neg)
        SELECT 'fast' AS mode, 'patterns' AS insight,
               (SELECT n FROM pat) AS n
        UNION ALL SELECT 'balanced', 'patterns', (SELECT n FROM pat)
        UNION ALL SELECT 'balanced', 'structural_anomalies',
                         (SELECT n FROM anom)
        UNION ALL SELECT 'comprehensive', 'contradictions',
                         (SELECT n FROM con)
        UNION ALL SELECT 'comprehensive', 'patterns', (SELECT n FROM pat)
        UNION ALL SELECT 'comprehensive', 'structural_anomalies',
                         (SELECT n FROM anom)
        ORDER BY mode, insight
    """

    # q142: every sink line reconstructed as a string — the writers'
    # exact formats (quotes, headers, footers, IN_REGION upper-casing).
    sql["q142_export_formats"] = """
        WITH n AS (SELECT 'n_' || n_nationkey AS nid,
                          'r_' || n_regionkey AS rid FROM nation),
        nodes AS (SELECT DISTINCT nid AS id FROM n
                  UNION SELECT DISTINCT rid FROM n)
        SELECT fmt, line FROM (
            SELECT 'cypher' AS fmt,
                   'CREATE (:Node {node_id: ''' || id || '''});' AS line
            FROM nodes
            UNION ALL
            SELECT 'cypher',
                   'MATCH (a:Node {node_id: ''' || nid
                   || '''}), (b:Node {node_id: ''' || rid
                   || '''}) CREATE (a)-[:IN_REGION]->(b);'
            FROM n
            UNION ALL
            SELECT 'gremlin',
                   'g.addV(''Node'').property(id, ''' || id || ''');'
            FROM nodes
            UNION ALL
            SELECT 'gremlin',
                   'g.V(''' || nid || ''').addE(''in_region'').to(g.V('''
                   || rid || '''));'
            FROM n
            UNION ALL
            SELECT 'rdf',
                   '@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .'
            UNION ALL
            SELECT 'rdf',
                   '@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .'
            UNION ALL
            SELECT 'rdf', '@prefix kg: <http://memory-engine.org/kg#> .'
            UNION ALL SELECT 'rdf', ''
            UNION ALL
            SELECT 'rdf', 'kg:node_' || id || ' rdf:type kg:Node .'
            FROM nodes
            UNION ALL
            SELECT 'rdf', 'kg:node_' || nid || ' kg:in_region kg:node_'
                          || rid || ' .'
            FROM n
            UNION ALL
            SELECT 'graphml', '<?xml version="1.0" encoding="UTF-8"?>'
            UNION ALL
            SELECT 'graphml',
                   '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
            UNION ALL
            SELECT 'graphml', '  <graph id="G" edgedefault="directed">'
            UNION ALL
            SELECT 'graphml', '    <node id="' || id || '"/>' FROM nodes
            UNION ALL
            SELECT 'graphml', '    <edge source="' || nid || '" target="'
                              || rid || '" label="in_region"/>'
            FROM n
            UNION ALL SELECT 'graphml', '  </graph>'
            UNION ALL SELECT 'graphml', '</graphml>'
        ) ORDER BY fmt, line
    """

    # q143: the merge stated relationally — survivors, overrides,
    # pass-throughs, inserts.
    sql["q143_import_merge"] = """
        WITH inc AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 0
                        THEN 'AUPD_' || c_custkey
                        ELSE 'UPD_' || c_custkey END AS c_name,
                   c_nationkey
            FROM customer WHERE c_custkey BETWEEN 101 AND 250
        )
        SELECT c_custkey, c_name, c_nationkey
        FROM customer WHERE c_custkey <= 100
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey FROM inc
        ORDER BY c_custkey
    """

    # q144: chunk inventory from row_number buckets; done marks the
    # final chunk only.
    sql["q144_chunked_results"] = """
        WITH q AS (
            SELECT o_orderkey,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
            FROM orders WHERE o_totalprice > 300000.0
            ORDER BY o_orderkey LIMIT 450
        )
        SELECT (rn // 100)::INT AS chunk_id, COUNT(*)::BIGINT AS n,
               MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key,
               (MAX(rn) = (SELECT MAX(rn) FROM q)) AS done
        FROM q GROUP BY 1 ORDER BY 1
    """

    # q145: the CRUD cycle stated relationally — synthetic vectors
    # regenerated with the same integer formula.
    sql["q145_vector_store_crud"] = """
        WITH ids AS (
            SELECT unnest(range(1000, 1020)) AS id
            UNION ALL SELECT unnest(range(0, 10))
        ),
        upd AS (
            SELECT id AS vec_id,
                   list_transform(range(1, 65),
                       j -> CAST((id + 1) * j % 7 - 3 AS DOUBLE)) AS v
            FROM ids
        ),
        store AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_id FROM upd)
            UNION ALL SELECT vec_id, v FROM upd
        ),
        store2 AS (SELECT * FROM store WHERE vec_id % 17 <> 0),
        q AS (SELECT v AS qv FROM upd WHERE vec_id = 0)
        SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 6) AS score,
               (SELECT COUNT(*) FROM store2)::BIGINT AS n_store
        FROM store2, q
        ORDER BY list_cosine_similarity(v, qv) DESC, vec_id ASC
        LIMIT 10
    """

    # q146: the skew toolkit's invariant — identical results to the
    # plain join/agg.
    sql["q146_skew_tools"] = """
        SELECT 'salted_join' AS section, o_orderpriority AS key,
               COUNT(*)::BIGINT AS n,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey < 2000
        GROUP BY o_orderpriority
        UNION ALL
        SELECT 'two_phase_count', event_type, COUNT(*)::BIGINT,
               CAST(NULL AS DOUBLE)
        FROM events GROUP BY event_type
        ORDER BY section, key
    """

    # q134: DuckDB's native list metrics against the same inlined query
    # vector (the ROUND-6 float-compare precedent of q16/q17).
    sql["q134_metric_conversions"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0)
        SELECT vec_id,
               ROUND(1.0 / (1.0 + list_distance(embedding::DOUBLE[], qv)), 6)
                   AS l2_sim,
               ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 6)
                   AS cosine,
               ROUND(list_inner_product(embedding::DOUBLE[], qv), 6) AS ip
        FROM embeddings, q WHERE vec_id < 200 ORDER BY vec_id
    """

    return sql
