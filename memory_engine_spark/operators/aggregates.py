"""Aggregation compiler + canned analytics reports.

Reference: /root/reference/memory_core/query/filter_processor.py:474-616
(count/sum/avg/min/max/group_by + having-as-PRE-filter) and
/root/reference/memory_core/mcp_integration/enhanced_mcp_endpoint.py:1278-1589
(coverage / relationship-metrics / quality / evolution reports).

Quirks replicated for oracle parity (SURVEY.md §7 "hard parts"):
- avg over an empty set = 0, not null (query_language.py:673) →
  ``coalesce(avg(x), 0)``.
- group_by emits a composite key joined with "|", nulls rendered "null"
  (filter_processor.py:595-600) → ``concat_ws`` over ``coalesce(cast,
  'null')`` — output formatting only; the shuffle keys stay the raw
  columns so partial (map-side) aggregation still applies.
- having is applied BEFORE aggregating (filter_processor.py:474-479).

All aggregates are built-in declarative ``groupBy().agg()`` — partial
aggregation (map-side combine) and AQE partition coalescing come free,
which is the scale story: one shuffle keyed on the group-by columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from memory_engine_spark.operators.filters import FilterCondition, apply_filters


@dataclass
class Aggregation:
    """query_types.py:30-38,70-85: one requested aggregate."""

    op: str  # count | sum | avg | min | max
    field: str | None = None  # None → count(*)
    alias: str | None = None

    def column(self) -> Column:
        name = self.alias or (f"{self.op}_{self.field}" if self.field else self.op)
        if self.op == "count":
            c = F.count(F.col(self.field)) if self.field else F.count(F.lit(1))
        elif self.op == "sum":
            c = F.sum(self.field)
        elif self.op == "avg":
            # reference: average of empty/no-numeric = 0 (query_language.py:673)
            c = F.coalesce(F.avg(self.field), F.lit(0.0))
        elif self.op == "min":
            c = F.min(self.field)
        elif self.op == "max":
            c = F.max(self.field)
        else:
            raise ValueError(f"unknown aggregation op: {self.op!r}")
        return c.alias(name)


def aggregate(
    df: DataFrame,
    aggs: Sequence[Aggregation],
    group_by: Sequence[str] = (),
    having: Sequence[FilterCondition] = (),
    composite_key: bool = False,
) -> DataFrame:
    """Compile an aggregation request. ``having`` is a PRE-filter to match
    the reference (filter_processor.py:474-479)."""
    if having:
        df = apply_filters(df, having)
    cols = [a.column() for a in aggs]
    if not group_by:
        return df.agg(*cols)
    out = df.groupBy(*group_by).agg(*cols)
    if composite_key:
        # filter_processor.py:595-600 output shape: "v1|v2" with null→"null"
        key = F.concat_ws(
            "|", *[F.coalesce(F.col(g).cast("string"), F.lit("null")) for g in group_by]
        ).alias("group_key")
        agg_names = [c for c in out.columns if c not in group_by]
        out = out.select(key, *agg_names)
    return out


def group_count(df: DataFrame, group_by: Sequence[str]) -> DataFrame:
    """filter_processor.py:584-616: per-group count with "|"-joined key."""
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(g).cast("string"), F.lit("null")) for g in group_by]
    ).alias("group_key")
    return df.groupBy(*group_by).count().select(key, F.col("count").alias("group_count"))


# ---------------------------------------------------------------------------
# Canned analytics reports (enhanced_mcp_endpoint.py:1278-1589)
# ---------------------------------------------------------------------------

def quality_histogram(df: DataFrame, rating_col: str, bins: int = 5) -> DataFrame:
    """Quality-score analytics (enhanced_mcp_endpoint.py:1426-1497): avg +
    N-bin histogram of a rating dimension. Bin = floor(score·bins), score
    1.0 clamped into the top bin."""
    b = F.least(F.floor(F.col(rating_col) * bins), F.lit(bins - 1)).alias("bin")
    return df.select(b).groupBy("bin").agg(F.count(F.lit(1)).alias("n")).orderBy("bin")


def monthly_counts(df: DataFrame, ts_col: str, extra_group: Sequence[str] = ()) -> DataFrame:
    """Evolution/time-bucket analytics (enhanced_mcp_endpoint.py:1336,
    1516-1525): counts per calendar month (and optional extra keys)."""
    month = F.date_format(F.col(ts_col), "yyyy-MM").alias("month")
    return df.groupBy(month, *extra_group).agg(F.count(F.lit(1)).alias("n"))


def relationship_metrics(edges: DataFrame) -> DataFrame:
    """Relationship analytics (enhanced_mcp_endpoint.py:1363-1424):
    per-relation-type counts + avg confidence; graph density
    E/(N·(N−1)) attached to every row (scalar metric)."""
    n_nodes = (edges.select(F.col("from_id").alias("node_id"))
               .unionByName(edges.select(F.col("to_id").alias("node_id")))
               .distinct().count())
    n_edges = edges.count()
    density = (n_edges / (n_nodes * (n_nodes - 1))) if n_nodes > 1 else 0.0
    return (
        edges.groupBy("relation_type")
        .agg(F.count(F.lit(1)).alias("n_edges"),
             F.round(F.avg("confidence_score"), 6).alias("avg_confidence"))
        .withColumn("graph_density", F.round(F.lit(density), 9))
    )


def rating_correlations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Correlation patterns between rating dimensions
    (insight_discovery.py:376-427): Pearson corr for every column pair.
    One aggregate job, all pairs at once."""
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"corr_{a}__{b}"))
    return df.agg(*aggs)


def iqr_outliers(df: DataFrame, col: str, k: float = 1.5) -> DataFrame:
    """IQR outlier detection (insight_discovery.py:1793-1822): rows outside
    [q1 - k·IQR, q3 + k·IQR]. Uses EXACT percentile (matches a SQL oracle,
    unlike percentile_approx); the quartiles reduce to one tiny broadcast
    row so the outlier filter is a map-side operation."""
    q = df.agg(
        F.expr(f"percentile({col}, 0.25)").alias("q1"),
        F.expr(f"percentile({col}, 0.75)").alias("q3"),
    )
    return (
        df.crossJoin(F.broadcast(q))
        .where((F.col(col) < F.col("q1") - k * (F.col("q3") - F.col("q1")))
               | (F.col(col) > F.col("q3") + k * (F.col("q3") - F.col("q1"))))
        .drop("q1", "q3")
    )


def merge_agg_deltas(view: DataFrame, delta: DataFrame,
                     key_cols: list[str],
                     count_col: str = "n") -> DataFrame:
    """Incremental view maintenance — the materialized-aggregate
    refresh that avoids recomputing a 100-TB base table for a
    0.01% CDC batch: `view` holds the current (keys → count +
    additive measures) state, `delta` the PRE-AGGREGATED signed
    changes (inserts +1/+v, deletes -1/-v, updates 0/±dv — the
    standard IVM encoding), and the merge is one full-outer join on
    the keys with coalesced sums, dropping groups whose maintained
    count reaches 0 (the group died). Additivity is the contract:
    every measure column (all non-key columns) must be a SUM/COUNT;
    min/max are NOT maintainable this way and don't belong here.
    Scale posture: the join is keyed on the view's own grouping
    key — the delta side is tiny by definition, broadcast it; the
    base table is never touched. Reference parity: the reference
    recomputes analytics from scratch per call (memory_core
    analytics); this is the maintained-view alternative."""
    from pyspark.sql import functions as F

    measure_cols = [c for c in view.columns if c not in key_cols]
    if count_col not in measure_cols:
        raise ValueError(f"count column {count_col!r} not in view")
    if [c for c in delta.columns if c not in key_cols] != measure_cols:
        raise ValueError("delta measures must match view measures")
    d = delta
    for c in measure_cols:
        d = d.withColumnRenamed(c, f"_d_{c}")
    merged = view.join(F.broadcast(d), key_cols, "full_outer")
    out_cols = [F.col(k) for k in key_cols]
    # Preserve each measure's INPUT type: a fractional additive
    # measure (double/decimal SUM) is still IVM-maintainable, and a
    # blanket cast-to-long would silently truncate it, breaking the
    # merge ≡ recompute invariant (round-7 ADVICE). The coalesced 0
    # literal widens int → bigint, so integral measures are cast back
    # to the view's own type instead.
    view_types = dict(view.dtypes)
    for c in measure_cols:
        out_cols.append(
            (F.coalesce(F.col(c), F.lit(0))
             + F.coalesce(F.col(f"_d_{c}"), F.lit(0)))
            .cast(view_types[c]).alias(c))
    return (merged.select(*out_cols)
            .filter(F.col(count_col) > 0))
