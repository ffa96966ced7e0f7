"""Compile a QuerySpec to one lazy DataFrame pipeline.

Mirrors the reference's execution order
(/root/reference/memory_core/orchestrator/query_language.py:378-400:
scan → filters → sorting → pagination → projection;
/root/reference/memory_core/query/query_engine.py:139-215: optimize →
execute → filter → rank → paginate → aggregate) but expresses the whole
thing declaratively so Catalyst performs the reference's hand-written
rewrites natively (SURVEY.md §4.1): predicate pushdown, limit pushdown
(TakeOrderedAndProject), column pruning, constant folding.

The reference's custom rewrites that Catalyst can't know — similarity-
threshold clamping and traversal-depth limiting
(query_optimizer.py:235-247) — live here as `clamp_similarity_threshold`
/ `clamp_depth`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from memory_engine_spark.operators.aggregates import aggregate
from memory_engine_spark.operators.filters import apply_filters
from memory_engine_spark.operators.sorting import apply_sort, slice_rows
from memory_engine_spark.plans.query_spec import QuerySpec


def compile_query(df: DataFrame, spec: QuerySpec) -> DataFrame:
    """Lower a QuerySpec onto its entity DataFrame."""
    return compile_page(compile_body(df, spec), spec)


def compile_body(df: DataFrame, spec: QuerySpec) -> DataFrame:
    """Filters and aggregation: the rows a response's total_count counts."""
    out = apply_filters(df, spec.filters)
    if spec.aggregations or spec.group_by:
        # Aggregation path (query_language.py:656-687); pagination/sort may
        # still apply to the aggregated rows.
        out = aggregate(out, spec.aggregations, spec.group_by, spec.having)
    return out


def compile_page(body: DataFrame, spec: QuerySpec) -> DataFrame:
    """Sort, offset/limit slice and projection of ``compile_body``'s rows."""
    out = slice_rows(apply_sort(body, spec.sorts), spec.offset, spec.limit)
    if spec.include_fields:
        out = out.select(*spec.include_fields)
    elif spec.exclude_fields:
        out = out.drop(*spec.exclude_fields)
    return out


def clamp_similarity_threshold(threshold: float) -> float:
    """query_optimizer.py:235-243: >0.9 → 0.85, <0.5 → 0.6."""
    if threshold > 0.9:
        return 0.85
    if threshold < 0.5:
        return 0.6
    return threshold


def clamp_depth(depth: int, limit: int | None) -> int:
    """query_optimizer.py:244-247: depth>3 with large/no limit → 3."""
    if depth > 3 and (limit is None or limit > 100):
        return 3
    return depth
